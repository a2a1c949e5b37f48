package perfbench

import graft.tsne.{Affinities, BHTSNE, FlatSPTree, KNN, TSNE, TSNEParams, X2P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Workload `tsne_bh`: the paper's pipeline. Seeded Gaussian-mixture
  * vectors go through `BHTSNE.tsne` with the reference defaults
  * (perplexity 30, θ 0.5, 4× exaggeration for 100 iterations). The
  * affinity stage (exact kNN, X2P, symmetrize) is executor-bound; each
  * iteration is one Spark job plus a driver-side tree build, broadcast
  * and update. It writes no files and touches no store. */
object TsneBh {
  final case class Size(n: Int, iterations: Int, warmN: Int, warmIters: Int)

  /** The measured size. Warm-up: Barnes-Hut needs ~500 points × 30
    * iterations before the JIT compiles the tree walk. */
  val Full = Size(n = 4000, iterations = 300, warmN = 1000, warmIters = 100)
  /** The small pass a traced run of another workload makes so that every
    * per-layer metric is measured in every traced run. */
  val Mini = Size(n = 400, iterations = 30, warmN = 0, warmIters = 0)

  val Dim = 64
  val Clusters = 10
  val Perplexity = 30.0

  def frame(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val vecs = Inputs.sample(seed + 1, Inputs.centers(seed, Clusters, Dim, sep = 3.0), n)
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism, n / 256))
    Inputs.frame(spark, Array.tabulate(n)(_.toLong), vecs, "id", "features", parts)
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, size: Size,
      tr: Tracer, out: Out): Unit = {
    val params = TSNEParams(perplexity = Perplexity, maxIterations = size.iterations,
      seed = seed)
    val n = size.n
    // a few embeddings from along the loop, for the tree-build timing
    val snapshotEvery = math.max(1, size.iterations / 6)

    // ---- set-up, three times: inputs cached, then the JIT warm-up ----
    var df: DataFrame = null
    out.t0Ms = System.currentTimeMillis()
    val setupS = (1 to 3).map { _ =>
      if (df != null) df.unpersist(true)
      val (_, s) = tr.time("tsne.setup") {
        df = frame(spark, seed, n).cache()
        df.count()
        if (size.warmN > 0) {
          val warm = frame(spark, seed ^ 0x5eedL, size.warmN)
          BHTSNE.tsne(warm, "id", "features",
            params.copy(maxIterations = size.warmIters)).count()
        }
      }
      out.op(true)
      s
    }

    // ---- measured: whole BHTSNE.tsne calls, at least `seconds` ------
    val heavyS = mutable.ArrayBuffer[Double]()
    val iterMs = mutable.ArrayBuffer[Double]()
    val opsPerS = mutable.ArrayBuffer[Double]()
    val iterWindows = mutable.ArrayBuffer[(Long, Long, Double)]()
    val affWindows = mutable.ArrayBuffer[(Long, Long, Double)]()
    val snaps = mutable.ArrayBuffer[Array[Double]]()
    var klLast = Double.NaN
    var persistedAfter = 0
    val measureStart = System.nanoTime()
    do {
      val it = size.iterations
      val ns = new Array[Long](it + 1)
      val ms = new Array[Long](it + 1)
      var kl10 = Double.NaN
      var kl = Double.NaN
      var lastY: Array[Double] = null
      val cb: TSNE.Callback = (i, y, loss) => {
        ns(i) = System.nanoTime()
        ms(i) = System.currentTimeMillis()
        loss.foreach { l => if (i == 10) kl10 = l; kl = l }
        if (i == it) lastY = y
        if (tr.traced && i % snapshotEvery == 0) snaps += y
      }
      ms(0) = System.currentTimeMillis()
      ns(0) = System.nanoTime()
      val (res, wall) = tr.time("tsne.call") {
        BHTSNE.tsne(df, "id", "features", params, cb)
      }
      persistedAfter = tr.spans.last.persistedAfter
      heavyS += (ns(1) - ns(0)) / 1e9
      affWindows += ((ms(0), ms(1), (ns(1) - ns(0)) / 1e9))
      (2 to it).foreach { i =>
        iterMs += (ns(i) - ns(i - 1)) / 1e6
        iterWindows += ((ms(i - 1), ms(i), (ns(i) - ns(i - 1)) / 1e9))
      }
      opsPerS += it / wall
      System.err.println("[perfbench] tsne iteration ms, median per 50-iteration block: " +
        iterMs.takeRight(it - 1).grouped(50).map(b => f"${Stats.median(b.toSeq)}%.1f").mkString(" "))
      klLast = kl
      // ---- output checks ----
      val rows = res.collect()
      val ok = Seq(
        out.check(rows.length == n, s"tsne: ${rows.length} rows, expected $n"),
        out.check(lastY != null && lastY.forall(java.lang.Double.isFinite),
          "tsne: non-finite coordinate in the final embedding"),
        out.check(rows.forall(r => (1 until r.length).forall(k =>
          java.lang.Double.isFinite(r.getDouble(k)))), "tsne: non-finite output row"),
        out.check(java.lang.Double.isFinite(kl) && kl < kl10,
          s"tsne: final KL $kl not finite or not below the iteration-10 KL $kl10"))
      out.op(ok.forall(identity))
    } while ((System.nanoTime() - measureStart) / 1e9 < seconds)

    out.t1Ms = System.currentTimeMillis()
    out.e2e("setup_s") = (Stats.median(setupS), "s")
    out.e2e("heavy_s") = (Stats.median(heavyS.toSeq), "s")
    out.e2e("step_ms_p50") = (Stats.median(iterMs.toSeq), "ms")
    out.e2e("ops_per_s") = (Stats.median(opsPerS.toSeq), "1/s")
    out.layer("tsne.kl", klLast, "nats")
    out.layer("tsne.persisted_rdds_after", persistedAfter, "count")
    if (!tr.traced) return

    // ---- traced only: the affinity stages one by one ----------------
    tr.time("tsne.knn") {
      KNN.knn(df, "id", "features", (3 * Perplexity).toInt)
        .write.format("noop").mode("overwrite").save()
    }
    val (p, _) = tr.time("tsne.x2p") {
      val p = X2P.x2p(df, "id", "features", Perplexity).cache()
      p.count()
      p
    }
    tr.time("tsne.symmetrize") {
      Affinities.symmetrize(p, n).write.format("noop").mode("overwrite").save()
    }
    p.unpersist(true)
    out.attempted += 3
    // driver-side tree build on the embeddings the loop produced
    val buildMs = snaps.toSeq.flatMap { y =>
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        FlatSPTree.build(y, n, params.dims)
        (System.nanoTime() - t) / 1e6
      }
    }
    // what each iteration broadcasts: Y and the flattened tree, sized
    // with the session's serializer (computed, not observed)
    val ser = org.apache.spark.SparkEnv.get.serializer.newInstance()
    val y = snaps.lastOption.getOrElse(new Array[Double](n * params.dims))
    val bcastBytes = ser.serialize(y).remaining() +
      ser.serialize(FlatSPTree.build(y, n, params.dims)).remaining()

    tr.drain()
    out.calls("tsne.affinity", affWindows.toSeq.map { case (a, b, w) => tr.usage(a, b, w) })
    Seq("tsne.knn", "tsne.x2p", "tsne.symmetrize").foreach(c =>
      out.calls(c, tr.named(c).map(tr.usage)))
    val iters = iterWindows.toSeq.map { case (a, b, w) => tr.usage(a, b - 1, w) }
    out.layer("tsne.iter.wall_ms", Stats.median(iterMs.toSeq), "ms")
    out.layer("tsne.iter.wall_ms_p90", Stats.quantile(iterMs.toSeq, 0.9), "ms")
    out.layer("tsne.iter.jobs", Stats.median(iters.map(_.jobs.toDouble)), "count")
    out.layer("tsne.iter.tasks", Stats.median(iters.map(_.tasks.toDouble)), "count")
    out.layer("tsne.iter.exec_run_ms", Stats.median(iters.map(_.execRunS * 1e3)), "ms")
    out.layer("tsne.iter.driver_gap_ms", Stats.median(iters.map(_.driverGapS * 1e3)), "ms")
    out.layer("tsne.tree_build_ms", if (buildMs.isEmpty) 0.0 else Stats.median(buildMs), "ms")
    out.layer("tsne.iter.broadcast_bytes_computed", bcastBytes.toDouble, "bytes")
  }
}
