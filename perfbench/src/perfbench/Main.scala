package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cores <n>`. Prints the run's result as
  * one JSON object on the last stdout line, prefixed with
  * [[ResultPrefix]]; `perfbench/run.py` builds, launches and relays it.
  *
  * Untraced (`--trace 0`) the result holds the end-to-end metrics.
  * Traced (`--trace 1`) a listener charges every timed call with its
  * Spark jobs, and the result holds the per-layer metrics. A traced run
  * also makes a small pass over the other workload's layers, so that
  * every per-layer metric is measured in every traced run. */
object Main {
  val ResultPrefix = "PERFBENCH_RESULT "
  val Workloads = Seq("tsne_bh", "ivf_lifecycle")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, not $t")
    }
    val work = opt("work")
    val cores = opt("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val tr = new Tracer(spark.sparkContext, traced)
    val out = new Out
    val other = new Out
    workload match {
      case "tsne_bh" =>
        TsneBh.run(spark, seed, seconds, TsneBh.Full, tr, out)
        if (traced)
          IvfLifecycle.run(spark, seed, 0, IvfLifecycle.Mini, tr, other, work)
      case "ivf_lifecycle" =>
        IvfLifecycle.run(spark, seed, seconds, IvfLifecycle.Full, tr, out, work)
        if (traced) TsneBh.run(spark, seed, 0, TsneBh.Mini, tr, other)
    }
    val metrics =
      if (!traced) out.e2e
      else {
        tr.drain()
        out.sparkTotals(tr.usage(out.t0Ms, out.t1Ms, (out.t1Ms - out.t0Ms) / 1e3))
        // the same end-to-end figures, taken with tracing on: minus the
        // untraced run's, they are the tracing overhead
        Seq("setup_s", "heavy_s", "step_ms_p50", "ops_per_s").foreach { m =>
          val (v, u) = out.e2e(m)
          out.layer(s"traced.$m", v, u)
        }
        out.layers ++ other.layers
      }
    tr.close()
    spark.stop()
    // per-call wall times, for the log
    tr.spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val w = ss.map(_.wallS).toSeq
      System.err.println(f"[perfbench] $name%-18s calls ${w.size}%4d  min ${w.min}%8.3f s  " +
        f"median ${Stats.median(w)}%8.3f s  max ${w.max}%8.3f s")
    }

    val finite = metrics.values.forall(m => java.lang.Double.isFinite(m._1))
    val correct = finite && out.failed == 0 && other.failed == 0
    val body = metrics.map { case (k, (v, u)) =>
      val num = if (java.lang.Double.isFinite(v)) java.lang.Double.toString(v) else "-1"
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    println(ResultPrefix + s"""{"correct":$correct,"attempted":${out.attempted + other.attempted},""" +
      s""""failed":${out.failed + other.failed},"metrics":$body}""")
    sys.exit(0)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      s"<${Workloads.mkString("|")}> --seed <n> --seconds <s> --trace <0|1> " +
      "--work <dir> --cores <n>")
    sys.exit(2)
  }
}
