package perfbench

/** What one run reports: end-to-end metrics, per-layer metrics, and the
  * operation tally. A failed check marks its operation failed. */
final class Out {
  val e2e = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  val layers = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  var attempted = 0L
  var failed = 0L
  /** The workload's own window (set-up and measured phase), excluding
    * the extra calls a traced run makes afterwards. */
  var t0Ms = 0L
  var t1Ms = 0L

  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED: $what")
    ok
  }

  /** Count one attempted operation; failed when `ok` is false. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  /** Median per-call accounting of repeated calls to one layer entry
    * point. Writers also report shuffle and output bytes. */
  def calls(prefix: String, us: Seq[Usage], writer: Boolean = false): Unit = {
    def med(f: Usage => Double) = if (us.isEmpty) 0.0 else Stats.median(us.map(f))
    layer(s"$prefix.wall_s", med(_.wallS), "s")
    layer(s"$prefix.jobs", med(_.jobs.toDouble), "count")
    layer(s"$prefix.tasks", med(_.tasks.toDouble), "count")
    layer(s"$prefix.exec_run_s", med(_.execRunS), "s")
    layer(s"$prefix.driver_gap_s", med(_.driverGapS), "s")
    if (writer) {
      layer(s"$prefix.shuffle_bytes",
        med(u => (u.shuffleReadBytes + u.shuffleWriteBytes).toDouble), "bytes")
      layer(s"$prefix.output_bytes", med(_.outputBytes.toDouble), "bytes")
    }
  }

  /** Listener totals over a workload's own window. */
  def sparkTotals(u: Usage): Unit = {
    layer("spark.jobs", u.jobs, "count")
    layer("spark.stages", u.stages, "count")
    layer("spark.tasks", u.tasks.toDouble, "count")
    layer("spark.exec_run_s", u.execRunS, "s")
    layer("spark.exec_cpu_s", u.execCpuS, "s")
    layer("spark.gc_s", u.gcS, "s")
    layer("spark.shuffle_read_bytes", u.shuffleReadBytes.toDouble, "bytes")
    layer("spark.shuffle_write_bytes", u.shuffleWriteBytes.toDouble, "bytes")
    layer("spark.spill_bytes", u.spillBytes.toDouble, "bytes")
    layer("spark.output_bytes", u.outputBytes.toDouble, "bytes")
  }
}
