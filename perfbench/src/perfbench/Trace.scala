package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work attributed to one timed call: the jobs submitted between
  * its start and its return, and the task metrics of their stages. */
final case class Usage(wallS: Double, jobs: Int, stages: Int, tasks: Long,
    execRunS: Double, execCpuS: Double, gcS: Double, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long, outputBytes: Long,
    inputRecords: Long, driverGapS: Double)

/** One call into a layer, timed from outside the program. `t0Ms`/`t1Ms`
  * are wall-clock millis, the clock Spark stamps job events with. */
final case class Span(name: String, t0Ms: Long, t1Ms: Long, wallS: Double,
    persistedAfter: Int)

/** Collects job intervals and per-stage task metrics. Events arrive on
  * the listener-bus thread; every access is synchronized on `this`. */
final class Recorder extends SparkListener {
  private val jobStart = mutable.HashMap[Int, Long]()
  private val jobEnd = mutable.HashMap[Int, Long]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stagesRun = mutable.HashSet[Int]()
  // per stage: tasks, run ms, cpu ns, gc ms, shuffle read, shuffle write,
  // spill, output bytes, input records
  private val stageAgg = mutable.HashMap[Int, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    // a stage shared with a later job is run by the first job that
    // references it; later jobs skip it
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagesRun += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAgg.getOrElseUpdate(e.stageId, new Array[Long](9))
    a(0) += 1
    if (m != null) {
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime
      a(3) += m.jvmGCTime
      a(4) += m.shuffleReadMetrics.totalBytesRead
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
      a(7) += m.outputMetrics.bytesWritten
      a(8) += m.inputMetrics.recordsRead
    }
  }

  /** Everything submitted in [t0Ms, t1Ms]. The driver gap is the wall
    * time minus the UNION of job intervals: jobs may run concurrently,
    * so their summed durations can exceed the wall time. */
  def usage(t0Ms: Long, t1Ms: Long, wallS: Double): Usage = synchronized {
    val jobs = jobStart.collect { case (j, s) if s >= t0Ms && s <= t1Ms => j }.toSet
    val stages = stageJob.collect { case (s, j) if jobs(j) => s }.toSeq
    val agg = new Array[Long](9)
    stages.foreach(s => stageAgg.get(s).foreach { a =>
      var i = 0
      while (i < 9) { agg(i) += a(i); i += 1 }
    })
    val intervals = jobs.toSeq.map { j =>
      (math.max(jobStart(j), t0Ms), math.min(jobEnd.getOrElse(j, t1Ms), t1Ms))
    }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    covered += curE - curS
    Usage(wallS, jobs.size, stages.count(stagesRun), agg(0), agg(1) / 1e3,
      agg(2) / 1e9, agg(3) / 1e3, agg(4), agg(5), agg(6), agg(7), agg(8),
      math.max(0.0, wallS - covered / 1e3))
  }
}

/** Times calls into the program's layers. Untraced, it only measures
  * wall time; traced, a [[Recorder]] is registered so each recorded
  * [[Span]] can be charged with its Spark jobs afterwards. */
final class Tracer(val sc: SparkContext, val traced: Boolean) {
  private val rec = new Recorder
  if (traced) sc.addSparkListener(rec)
  val spans = mutable.ArrayBuffer[Span]()

  /** Run `f`, returning its value and wall seconds; record a span. */
  def time[T](name: String)(f: => T): (T, Double) = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - n0) / 1e9
    val persisted = sc.getPersistentRDDs.size
    spans += Span(name, t0, System.currentTimeMillis(), wall, persisted)
    (r, wall)
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Usage of a window; call only after [[drain]]. */
  def usage(t0Ms: Long, t1Ms: Long, wallS: Double): Usage =
    rec.usage(t0Ms, t1Ms, wallS)

  def usage(s: Span): Usage = usage(s.t0Ms, s.t1Ms, s.wallS)

  def drain(): Unit = if (traced) org.apache.spark.perfbench.Bus.drain(sc)

  def close(): Unit = if (traced) sc.removeSparkListener(rec)
}

/** Order statistics. */
object Stats {
  /** Linearly interpolated quantile (the usual "type 7" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
