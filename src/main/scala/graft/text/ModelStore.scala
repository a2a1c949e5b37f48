package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, generation-stamped store for the two LEARNED text
  * artifacts — the distilled quality classifier ([[QualityClassifier]])
  * and the learned BPE merge list ([[BpeTrainer]]) — with the same
  * lifecycle discipline the embedding store's coarse quantizer got in
  * [[graft.ops.IvfIndex]]: a recorded generation, a cheap per-day drift
  * signal, a retrain actuator with a crash-safe staged swap, and a
  * scoring LEDGER that records which generation scored each day.
  *
  * Why this exists: at 100 TB both artifacts are one-shot models trained
  * on an early corpus snapshot. As the corpus distribution shifts (new
  * domains, new languages, new boilerplate), a frozen classifier's
  * acceptance rate silently drifts and a frozen BPE vocabulary's
  * compression degrades (novel words fall back toward characters) — and
  * without a ledger, a pipeline that retrains cannot say which days were
  * scored under which model, so downstream consumers silently mix
  * incomparable quality scores and token counts. The store makes drift
  * LOUD (advice), retrain SAFE (staged swap + marker fence), and scoring
  * ATTRIBUTABLE (generation stamped on every scored row and ledger day).
  *
  * Layout under `dir` (all components swap together on retrain):
  *  - `_model.properties` — generation, dim, num_merges, threshold,
  *    ref_pos_frac, ref_tokens_per_word, trained_n (swapped LAST so a
  *    crash is always detectable via the marker).
  *  - `classifier.parquet` — (slot INT, value DOUBLE) weight vector.
  *  - `merges.parquet` — (rank INT, left STRING, right STRING).
  *  - `scores/day=N/` + `ledger/day_N.parquet` — NOT swapped: they are
  *    generation-stamped history, the whole point of the ledger.
  *  - `retrain.inprogress` + `_retrain_staging/` — crash-safety: the
  *    marker is written only after the staging is COMPLETE, so recovery
  *    always rolls forward; every reader/scorer fences on the marker.
  *
  * Drift signals (one bounded pass over the day's documents, model state
  * ships in task closures — no shuffle):
  *  - classifier, calibration: |positive fraction − ref| where ref is
  *    the trained model's positive fraction on its own training corpus
  *    (≈0.5 by the median-threshold construction). A shifted domain the
  *    model (rightly or wrongly) scores one-sidedly moves the fraction.
  *  - classifier, distillation break: teacher agreement under the
  *    STORED threshold vs the training-time reference — a shift can
  *    leave the score distribution centered while the student stops
  *    reproducing its teacher on every document (see [[agreementWith]]).
  *  - BPE: mean learned-subword tokens per word vs the training-time
  *    reference. Novel vocabulary defeats the learned merges and the
  *    ratio climbs toward characters-per-word.
  */
object ModelStore {

  private val PropsFile = "_model.properties"
  private val Marker = "retrain.inprogress"
  private val Staging = "_retrain_staging"
  // swap order: properties LAST (a live store always has components at
  // least as new as its header; the marker catches the mixed window)
  private val Components = Seq("classifier.parquet", "merges.parquet", PropsFile)

  final case class Header(generation: Int, dim: Int, numMerges: Int,
      threshold: Double, refPosFrac: Double, refAgreement: Double,
      refTokensPerWord: Double, trainedN: Long)

  final case class Drift(generation: Int, posFrac: Double, refPosFrac: Double,
      agreement: Double, refAgreement: Double,
      tokensPerWord: Double, refTokensPerWord: Double,
      classifierDrift: Boolean, bpeDrift: Boolean)

  /** The monitor's verdict: `act` with the signal(s) that tripped in
    * `reason` ("classifier_drift", "bpe_drift", both joined by '+', or
    * "none"). Policy, not mechanism — the caller picks the retrain
    * window (typically the recent days whose drift tripped). */
  final case class RetrainAdvice(generation: Int, act: Boolean,
      reason: String, drift: Drift)

  private def hfsOf(spark: SparkSession, dir: String) = {
    val root = new org.apache.hadoop.fs.Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def p(root: org.apache.hadoop.fs.Path, name: String) =
    new org.apache.hadoop.fs.Path(root, name)

  /** 0 for a store that has never completed a retrain (including an
    * empty directory); +1 per completed [[retrain]] — the FIRST train is
    * generation 1, so "generation 0" always means "no model exists". */
  def generation(spark: SparkSession, dir: String): Int = {
    val (hfs, root) = hfsOf(spark, dir)
    if (!hfs.exists(p(root, PropsFile))) 0
    else loadProps(hfs, p(root, PropsFile)).getProperty("generation", "0").toInt
  }

  private def loadProps(hfs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): java.util.Properties = {
    val in = hfs.open(path)
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    props
  }

  def header(spark: SparkSession, dir: String): Header = {
    val (hfs, root) = hfsOf(spark, dir)
    require(hfs.exists(p(root, PropsFile)),
      s"ModelStore: no model at $dir (generation 0) — run retrain first")
    val props = loadProps(hfs, p(root, PropsFile))
    Header(props.getProperty("generation").toInt,
      props.getProperty("dim").toInt,
      props.getProperty("num_merges").toInt,
      props.getProperty("threshold").toDouble,
      props.getProperty("ref_pos_frac").toDouble,
      props.getProperty("ref_agreement").toDouble,
      props.getProperty("ref_tokens_per_word").toDouble,
      props.getProperty("trained_n").toLong)
  }

  /** Throws while a crashed [[retrain]]'s swap is pending: between the
    * marker and the final cleanup the store may hold a mixed model
    * (new classifier beside old merges), and any score computed there
    * is attributable to NO generation. Re-running retrain completes the
    * pending swap (the staging is complete; recovery rolls forward). */
  private def requireNoPendingRetrain(spark: SparkSession, dir: String): Unit = {
    val (hfs, root) = hfsOf(spark, dir)
    if (hfs.exists(p(root, Marker)))
      throw new java.io.IOException(
        s"ModelStore: $dir has a pending retrain ($Marker present) — a " +
          "retrain crashed mid-swap and the store may hold a mixed model. " +
          "Re-run ModelStore.retrain(dir, ...) to complete it (the staged " +
          "artifacts are complete; recovery rolls forward).")
  }

  def loadClassifier(spark: SparkSession, dir: String): QualityClassifier.Model = {
    requireNoPendingRetrain(spark, dir)
    val h = header(spark, dir)
    val w = new Array[Double](h.dim + QualityClassifier.DenseStats + 1)
    spark.read.parquet(s"$dir/classifier.parquet")
      .select(col("slot"), col("value")).collect()
      .foreach(r => w(r.getInt(0)) = r.getDouble(1))
    QualityClassifier.Model(w, h.dim, Array.empty, h.threshold)
  }

  def loadMerges(spark: SparkSession, dir: String): Seq[(String, String)] = {
    requireNoPendingRetrain(spark, dir)
    spark.read.parquet(s"$dir/merges.parquet")
      .orderBy(col("rank")).collect()
      .map(r => (r.getAs[String]("left"), r.getAs[String]("right"))).toSeq
  }

  /** Train BOTH artifacts on `docs` and swap them in as generation
    * `current + 1` (crash-safe; single writer, like the quantizer
    * lifecycle ops). On a store with a pending crashed retrain this
    * COMPLETES the pending swap instead of training again — the staged
    * artifacts are already a full consistent generation. Returns the
    * live generation after the call. */
  def retrain(spark: SparkSession, dir: String, docs: DataFrame,
      dim: Int = 4096, epochs: Int = 100, numMerges: Int = 50): Int = {
    val (hfs, root) = hfsOf(spark, dir)
    if (!hfs.exists(p(root, Marker))) stageRetrain(spark, dir, docs, dim, epochs, numMerges)
    completePendingRetrain(spark, dir)
    generation(spark, dir)
  }

  /** Stage a full new generation + write the marker, WITHOUT swapping —
    * package-visible so the crash drill can exercise the fence and the
    * roll-forward exactly as a mid-swap crash would leave them. */
  private[graft] def stageRetrain(spark: SparkSession, dir: String,
      docs: DataFrame, dim: Int, epochs: Int, numMerges: Int): Unit = {
    requireNoPendingRetrain(spark, dir)
    val (hfs, root) = hfsOf(spark, dir)
    val oldGen = generation(spark, dir)
    val stage = p(root, Staging)
    if (hfs.exists(stage)) hfs.delete(stage, true): Unit

    // train on a cached frame: the classifier (teacher labels + epochs)
    // and the BPE trainer (word counts) each scan `docs`; at retrain
    // scale `docs` is a bounded recent window, not the lake
    val window = docs.select(col("doc_id").cast("long"), col("text")).cache()
    try {
      val model = QualityClassifier.train(window, dim = dim, epochs = epochs)
      val merges = BpeTrainer.train(window, numMerges = numMerges)
      val n = window.count()

      // training-time references the drift monitor compares against
      val scored = QualityClassifier.score(window, model)
      val posFrac = scored.agg(avg(col("pred").cast("double"))).head.getDouble(0)
      val agreement = agreementWith(window, scored, model.threshold)
      val tpw = tokensPerWord(window, merges)

      import spark.implicits._
      model.weights.zipWithIndex.collect { case (v, i) if v != 0.0 => (i, v) }
        .toSeq.toDF("slot", "value")
        .repartition(1).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "classifier.parquet").toString)
      merges.zipWithIndex.map { case ((l, r), k) => (k, l, r) }
        .toDF("rank", "left", "right")
        .repartition(1).write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(stage, "merges.parquet").toString)
      writeAtomic(hfs, new org.apache.hadoop.fs.Path(stage, PropsFile),
        s"generation=${oldGen + 1}\ndim=$dim\nnum_merges=${merges.length}\n" +
          f"threshold=${model.threshold}%.17g\nref_pos_frac=$posFrac%.17g\n" +
          f"ref_agreement=$agreement%.17g\n" +
          f"ref_tokens_per_word=$tpw%.17g\ntrained_n=$n\n")
    } finally window.unpersist(blocking = false): Unit
    // marker LAST: its presence certifies the staging is complete, so
    // recovery is always roll-forward
    writeAtomic(hfs, p(root, Marker), s"from_generation=$oldGen\n")
  }

  /** Roll a pending retrain forward ([[graft.io.StagedSwap.rollForward]]);
    * the retired generation waits in `_trash_gen<from_generation>/`. */
  private def completePendingRetrain(spark: SparkSession, dir: String): Unit = {
    val (hfs, root) = hfsOf(spark, dir)
    val marker = p(root, Marker)
    require(hfs.exists(marker), s"ModelStore: no pending retrain at $dir")
    val stage = p(root, Staging)
    val oldGen = loadProps(hfs, marker)
      .getProperty("from_generation", "0").toInt
    val trash = p(root, s"_trash_gen$oldGen")
    graft.io.StagedSwap.rollForward(spark, hfs, marker, stage,
      parts = Components.map(c => graft.io.StagedSwap.Part(
        live = p(root, c), staged = p(stage, c), trash = p(trash, c))),
      retire = Nil, trash = Seq(trash),
      refresh = Components.filter(_.endsWith(".parquet")).map(c => s"$dir/$c"),
      op = "ModelStore")
  }

  private def writeAtomic(hfs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path, content: String): Unit =
    graft.io.Layout.writeFileAtomic(hfs, path, content,
      tmpTag = System.identityHashCode(this).toString)

  /** Mean learned-subword tokens per word over `docs` under `merges` —
    * the BPE coverage statistic (1.0 = every word is one learned token;
    * characters-per-word = the merges never fire). Weighted by word
    * count, one aggregation. */
  def tokensPerWord(docs: DataFrame, merges: Seq[(String, String)]): Double = {
    val seg = BpeTrainer.segmentCounts(docs, merges)
      .join(docs.select(col("doc_id").cast("long"),
        size(TextFunctions.tokens(col("text"))).as("n_words")), "doc_id")
      .agg(sum(col("n_bpe_learned")).cast("double").as("toks"),
        sum(col("n_words")).cast("double").as("words"))
      .head
    if (seg.isNullAt(1) || seg.getDouble(1) == 0) 0.0
    else seg.getDouble(0) / seg.getDouble(1)
  }

  /** Teacher-student agreement under the STORED threshold: the fraction
    * of documents where the distilled classifier reproduces its
    * teacher's label. This is THE drift signal for a distilled model —
    * a shifted domain can leave the score distribution centered (the
    * positive fraction silent) while the distillation is broken on
    * every document; agreement collapse catches exactly that, and the
    * teacher (the heuristic score) is cheap enough to evaluate on every
    * monitored day. The stored threshold keeps the day's own
    * distribution out of the labels (recomputing a median here would
    * define drift away). */
  private def agreementWith(docs: DataFrame, scored: DataFrame,
      threshold: Double): Double =
    scored.join(QualityClassifier.teacherLabels(docs, threshold), "doc_id")
      .agg(avg((col("pred") === col("label")).cast("double")))
      .head.getDouble(0)

  /** One-pass drift measurement for a candidate day, against the live
    * generation's training-time references. Pure read — no ledger or
    * store mutation; policy thresholds are the caller's. The classifier
    * signal trips on EITHER calibration shift (positive fraction moved
    * by more than `posTol`) or distillation break (teacher agreement
    * fell more than `agrTol` below the training-time reference). */
  def drift(spark: SparkSession, dir: String, dayDocs: DataFrame,
      posTol: Double = 0.2, bpeTol: Double = 0.25,
      agrTol: Double = 0.2): Drift = {
    requireNoPendingRetrain(spark, dir)
    val h = header(spark, dir)
    val docs = dayDocs.select(col("doc_id").cast("long"), col("text")).cache()
    try {
      val model = loadClassifier(spark, dir)
      val scored = QualityClassifier.score(docs, model).cache()
      try {
        val posFrac = scored.agg(avg(col("pred").cast("double"))).head.getDouble(0)
        val agreement = agreementWith(docs, scored, h.threshold)
        val tpw = tokensPerWord(docs, loadMerges(spark, dir))
        Drift(h.generation, posFrac, h.refPosFrac, agreement, h.refAgreement,
          tpw, h.refTokensPerWord,
          classifierDrift = math.abs(posFrac - h.refPosFrac) > posTol ||
            agreement < h.refAgreement - agrTol,
          bpeDrift = tpw > h.refTokensPerWord * (1 + bpeTol))
      } finally scored.unpersist(blocking = false): Unit
    } finally docs.unpersist(blocking = false): Unit
  }

  def retrainAdvice(spark: SparkSession, dir: String, dayDocs: DataFrame,
      posTol: Double = 0.2, bpeTol: Double = 0.25,
      agrTol: Double = 0.2): RetrainAdvice = {
    val d = drift(spark, dir, dayDocs, posTol, bpeTol, agrTol)
    val reasons = Seq(
      if (d.classifierDrift) Some("classifier_drift") else None,
      if (d.bpeDrift) Some("bpe_drift") else None).flatten
    RetrainAdvice(d.generation, reasons.nonEmpty,
      if (reasons.isEmpty) "none" else reasons.mkString("+"), d)
  }

  /** Score one day's documents under the LIVE generation and record it
    * in the ledger: every output row carries (prob, pred, n_bpe_learned,
    * generation), persisted at `scores/day=N`; the ledger row records
    * (day, generation, n_docs, pos_frac). IDEMPOTENT per day — a re-run
    * (or a later run under a NEWER generation) returns the stored day
    * unchanged, which is the no-silent-mixing property: a day is scored
    * by exactly one generation, forever, and the ledger says which. */
  def scoreDay(spark: SparkSession, dir: String, day: Int,
      dayDocs: DataFrame): DataFrame = {
    requireNoPendingRetrain(spark, dir)
    val scoresPath = s"$dir/scores/day=$day"
    val (hfs, root) = hfsOf(spark, dir)
    if (!hfs.exists(new org.apache.hadoop.fs.Path(scoresPath))) {
      val h = header(spark, dir)
      val model = loadClassifier(spark, dir)
      val merges = loadMerges(spark, dir)
      val scored = QualityClassifier.score(
          dayDocs.select(col("doc_id").cast("long"), col("text")), model)
        .join(BpeTrainer.segmentCounts(dayDocs, merges)
          .select(col("doc_id").cast("long"), col("n_bpe_learned")), "doc_id")
        .withColumn("generation", lit(h.generation))
      scored.write.mode("overwrite").parquet(scoresPath)
      val stats = spark.read.parquet(scoresPath)
        .agg(count(lit(1)).as("n"), avg(col("pred").cast("double")).as("pf"))
        .head
      import spark.implicits._
      // single-file per-day ledger row: the append is the atomic unit,
      // so a crash between scores and ledger re-runs cleanly (scores
      // overwrite, ledger row still absent)
      Seq((day, h.generation, stats.getLong(0), stats.getDouble(1)))
        .toDF("day", "generation", "n_docs", "pos_frac")
        .repartition(1).write.mode("overwrite")
        .parquet(s"$dir/ledger/day_$day.parquet")
    }
    spark.read.parquet(scoresPath).withColumn("day", lit(day))
  }

  /** The scoring ledger: one row per scored day with the generation
    * that scored it. */
  def ledger(spark: SparkSession, dir: String): DataFrame = {
    val (hfs, root) = hfsOf(spark, dir)
    val led = p(root, "ledger")
    if (!hfs.exists(led))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "day int, generation int, n_docs bigint, pos_frac double"))
    else spark.read.parquet(s"$dir/ledger/*.parquet")
  }
}
