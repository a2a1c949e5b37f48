package perfbench

import graft.ml.KMeans
import graft.ops.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Workload `ivf_lifecycle`: the read and write paths of a served IVF
  * index. Set-up builds the index over seeded mixture vectors; a closed
  * loop then interleaves `search` batches with `append`s of drifted
  * batches; one maintenance pass (rebuild at the advised nlist, split,
  * delete, compact) follows, then more searches. No t-SNE, no media. */
object IvfLifecycle {
  final case class Size(n: Int, clusters: Int, nlist: Int, queries: Int,
      appendRows: Int, searchesPerRound: Int, minRounds: Int,
      postSearches: Int, deletes: Int)

  val Full = Size(n = 8000, clusters = 40, nlist = 32, queries = 20,
    appendRows = 400, searchesPerRound = 4, minRounds = 2, postSearches = 3,
    deletes = 200)
  /** The small pass a traced run of another workload makes so that every
    * per-layer metric is measured in every traced run. */
  val Mini = Size(n = 2000, clusters = 20, nlist = 16, queries = 10,
    appendRows = 200, searchesPerRound = 2, minRounds = 1, postSearches = 2,
    deletes = 50)

  val Dim = 64
  val K = 10
  val Nprobe = 8
  /** Each search call's mean recall@10 against exact cosine top-10 over
    * the live vectors must reach this. */
  val RecallFloor = 0.8
  private val AppendIdBase = 100000000L
  private val QueryIdBase = 1000000000L

  /** The live corpus, mirrored on the driver for the exact answers. */
  private final class Live {
    val ids = mutable.ArrayBuffer[Long]()
    val vecs = mutable.ArrayBuffer[Array[Float]]()
    val deleted = mutable.HashSet[Long]()
    def add(i: Array[Long], v: Array[Array[Float]]): Unit = { ids ++= i; vecs ++= v }

    /** Exact top-K ids by cosine among the live, undeleted vectors. */
    def topK(q: Array[Float]): Set[Long] = {
      val qn = math.sqrt(q.map(x => x.toDouble * x).sum)
      val heap = mutable.PriorityQueue[(Double, Long)]()(Ordering.by(x => -x._1))
      var r = 0
      while (r < ids.length) {
        if (!deleted(ids(r))) {
          val v = vecs(r)
          var dot = 0.0
          var vv = 0.0
          var k = 0
          while (k < v.length) { dot += q(k).toDouble * v(k); vv += v(k).toDouble * v(k); k += 1 }
          heap.enqueue((dot / (qn * math.sqrt(vv)), ids(r)))
          if (heap.size > K) heap.dequeue()
        }
        r += 1
      }
      heap.map(_._2).toSet
    }
  }

  def run(spark: SparkSession, seed: Long, seconds: Double, size: Size,
      tr: Tracer, out: Out, work: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    val centers = Inputs.centers(seed, size.clusters, Dim, sep = 2.0)
    val live = new Live
    val baseIds = Array.tabulate(size.n)(_.toLong)
    out.t0Ms = System.currentTimeMillis()
    var base: DataFrame = null
    var dir: String = null

    // ---- set-up, three times: inputs, then IvfIndex.build -----------
    val setupS = (1 to 3).map { r =>
      if (base != null) base.unpersist(true)
      val (_, s) = tr.time("ivf.setup") {
        val vecs = Inputs.sample(seed + 1, centers, size.n)
        if (r == 3) live.add(baseIds, vecs)
        base = Inputs.frame(spark, baseIds, vecs, "vec_id", "embedding", parts).cache()
        base.count()
        dir = s"$work/ivf_$r"
        tr.time("ivf.build") {
          IvfIndex.build(base, dir, "vec_id", "embedding", nlist = size.nlist)
        }
      }
      out.op(true)
      s
    }

    val recalls = mutable.ArrayBuffer[Double]()
    val resultRows = mutable.ArrayBuffer[Long]()
    var calls = 0
    var lastQueries: (Array[Long], Array[Array[Float]]) = null
    def queries(): DataFrame = {
      calls += 1
      val ids = Array.tabulate(size.queries)(i => QueryIdBase + calls * 1000L + i)
      val vecs = Inputs.sample(seed * 7919 + calls, centers, size.queries)
      lastQueries = (ids, vecs)
      Inputs.frame(spark, ids, vecs, "vec_id", "embedding", 1)
    }
    val searchMs = mutable.ArrayBuffer[Double]()
    def search(): Unit = {
      val q = queries()
      val (qids, qvecs) = lastQueries
      val (rows, s) = tr.time("ivf.search") {
        IvfIndex.search(spark, dir, q, "vec_id", "embedding", K, Nprobe).collect()
      }
      searchMs += s * 1e3
      resultRows += rows.length
      val got = rows.groupBy(_.getAs[Long]("i")).map { case (i, rs) =>
        i -> rs.map(_.getAs[Long]("j")).toSet }
      val recall = qids.indices.map { i =>
        live.topK(qvecs(i)).count(got.getOrElse(qids(i), Set.empty[Long])) / K.toDouble
      }.sum / qids.length
      recalls += recall
      out.op(Seq(
        out.check(rows.length == K * qids.length,
          s"ivf: search returned ${rows.length} rows for ${qids.length} queries"),
        out.check(recall >= RecallFloor, f"ivf: recall@$K $recall%.3f below $RecallFloor"),
        out.check(!rows.exists(r => live.deleted(r.getAs[Long]("j"))),
          "ivf: search returned a deleted id")).forall(identity))
    }

    // ---- measured: closed loop of searches and appends --------------
    val measureT0 = System.nanoTime()
    var round = 0
    while (round < size.minRounds || (System.nanoTime() - measureT0) / 1e9 < seconds) {
      (1 to size.searchesPerRound).foreach(_ => search())
      // each batch drifts a little further along one seeded direction
      val rng = new java.util.Random(seed * 31 + round)
      val shift = Array.fill(Dim)(rng.nextGaussian() * 0.3 * (round + 1))
      val ids = Array.tabulate(size.appendRows)(i =>
        AppendIdBase + round.toLong * size.appendRows + i)
      val vecs = Inputs.sample(seed * 131 + round, centers, size.appendRows, shift)
      val batch = Inputs.frame(spark, ids, vecs, "vec_id", "embedding", parts)
      tr.time("ivf.append") { IvfIndex.append(batch, dir, "vec_id", "embedding") }
      live.add(ids, vecs)
      out.op(true)
      round += 1
    }
    val loopS = (System.nanoTime() - measureT0) / 1e9
    val loopOps = calls + round

    // ---- maintenance pass ---------------------------------------------
    val advice = IvfIndex.rebuildAdvice(spark, dir)
    val (_, rebuildS) = tr.time("ivf.rebuild") {
      IvfIndex.rebuild(spark, dir, advice.suggestedNlist)
    }
    val meanAfter = live.ids.length / advice.suggestedNlist
    val (_, splitS) = tr.time("ivf.split") {
      IvfIndex.splitCells(spark, dir, maxPostingsPerCell = math.max(2, meanAfter * 3 / 2),
        maxSplitCells = 1)
    }
    val victims = new java.util.Random(seed * 17).ints(0, size.n).distinct()
      .limit(size.deletes).toArray.map(_.toLong)
    val (_, deleteS) = tr.time("ivf.delete") {
      val sp = spark
      import sp.implicits._
      IvfIndex.deleteVectors(spark, dir, victims.toSeq.toDF("vec_id"))
    }
    live.deleted ++= victims
    val (_, compactS) = tr.time("ivf.compact") { IvfIndex.compactPostings(spark, dir) }
    out.attempted += 4
    (1 to size.postSearches).foreach(_ => search())
    out.t1Ms = System.currentTimeMillis()

    out.e2e("setup_s") = (Stats.median(setupS), "s")
    out.e2e("heavy_s") = (rebuildS + splitS + deleteS + compactS, "s")
    out.e2e("step_ms_p50") = (Stats.median(searchMs.toSeq), "ms")
    out.e2e("ops_per_s") = (loopOps / loopS, "1/s")
    out.layer("ivf.recall_at_10", Stats.median(recalls.toSeq), "ratio")
    out.layer("ivf.search.calls", searchMs.size, "count")
    out.layer("ivf.persisted_rdds_after", tr.spans.last.persistedAfter, "count")
    if (!tr.traced) return

    // ---- traced only: the quantizer fit and the store-side probe ----
    tr.time("kmeans.train") {
      KMeans.train(base, "vec_id", "embedding", k = size.nlist, iters = 10)
    }
    val q = queries()
    tr.time("store.ivf.probe") {
      IvfIndex.matchedAgainstIndex(q, dir, "vec_id", "embedding", threshold = 0.9,
        nprobe = 4).count()
    }
    out.attempted += 2
    base.unpersist(true)

    tr.drain()
    out.calls("ivf.build", tr.named("ivf.build").map(tr.usage), writer = true)
    out.calls("kmeans.train", tr.named("kmeans.train").map(tr.usage))
    val searches = tr.named("ivf.search").map(tr.usage)
    out.calls("ivf.search", searches)
    out.layer("ivf.search.rows_read_per_result",
      searches.map(_.inputRecords).sum.toDouble / math.max(1L, resultRows.sum), "ratio")
    Seq("ivf.append", "ivf.rebuild", "ivf.split", "ivf.delete", "ivf.compact")
      .foreach(c => out.calls(c, tr.named(c).map(tr.usage), writer = true))
    out.calls("store.ivf.probe", tr.named("store.ivf.probe").map(tr.usage))
  }
}
