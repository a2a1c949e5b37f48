package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent incremental perceptual-signature index — the media-side
  * analog of the text family's frozen-history structures (the docs
  * novelty bloom, `Dedup.sourceSignatures`): every ingested asset's
  * perceptual identity is extracted ONCE, at ingest, into a compact
  * parquet table, and every later novelty/dedup pass joins against that
  * table instead of re-decoding history payloads.
  *
  * This is the 100 TB design point: without the store, a daily novelty
  * batch re-opens and re-hashes the ENTIRE media corpus per run (the
  * history side of [[Multimodal.perceptualNoveltyBatch]] decodes every
  * payload every time); with it, the steady-state batch decodes only
  * the incoming assets and joins 16–72-byte signature rows — history
  * cost is paid once, ever, and appends are O(batch). A gated query
  * pins both properties: store form ≡ decode form (0 diff) and zero
  * history decodes in the steady-state batch.
  *
  * Schema: `(media_id, kind, sig, thumb)` parquet PARTITIONED BY kind,
  * one row per DISTINCT per-asset signature —
  *
  *  - image: one row; `sig` = 64-bit DCT pHash ([[Codec.phash64]]),
  *    `thumb` = 8×8 luma thumbnail (the exact-verify payload).
  *  - video: one row per distinct sampled-frame pHash (stride-sampled
  *    via [[Multimodal.sampleFrames]]), frame thumbs carried for the
  *    verify stage.
  *  - audio: one row per distinct Haitsma–Kalker window fingerprint
  *    (32-bit, [[Codec.audioFingerprints]]); `thumb` is null — the
  *    fingerprint is already gain-invariant and window-exact.
  *
  * Kind partitioning means a kind-scoped probe (the common case) reads
  * only its partition directories — partition pruning at the scan, the
  * same discipline as [[graft.ops.IvfIndex]]'s cell partitioning.
  * Undecodable payloads contribute no rows (consistent with every
  * operator in the family: an unprovable dup is never dropped).
  */
object SignatureStore {

  /** Per-kind signature builders — typed `mapPartitions` rather than a
    * `select(udf.as("st")).where(st.isNotNull)` projection, and that
    * choice is a MEASURED decode-cost property, not style: predicate
    * pushdown substitutes the null-skip filter's UDF reference below
    * the project, leaving the decode evaluated once in the Filter
    * operator and again in the Project — every payload decoded TWICE
    * (codegen subexpression elimination does not span operators). The
    * lambda decodes each payload exactly once and skips undecodable
    * rows itself. Payload bytes stream through the partition iterator
    * and never shuffle; only (media_id, kind, sig, thumb) rows leave.
    * These builders are shared by the near-dup/novelty operators in
    * [[Multimodal]] and [[graft.streaming.MediaStream]], so the whole
    * perceptual family pays one decode per asset per pass. */
  private[graft] def imageSigRows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("kind") === "image")
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, c) =>
        Codec.decodeImage(c).map(img =>
          (id, "image", Codec.phash64(img), Codec.lumaThumb8(img)))
      })
      .toDF("media_id", "kind", "sig", "thumb")
  }

  private[graft] def videoSigRows(media: DataFrame, stride: Int = 2): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    Multimodal.sampleFrames(media, stride)
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, c) =>
        Codec.decodeImage(c).map(img =>
          (id, "video", Codec.phash64(img), Codec.lumaThumb8(img)))
      })
      .toDF("media_id", "kind", "sig", "thumb")
  }

  private[graft] def audioSigRows(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("kind") === "audio")
      .select(col("media_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, c) =>
        Codec.audioFingerprints(c).map(s =>
          (id, "audio", s, null.asInstanceOf[Array[Byte]]))
      })
      .toDF("media_id", "kind", "sig", "thumb")
  }

  /** Extract the store rows for a media frame — the shared ingest step
    * of [[build]] and [[append]]. One decode per image/audio asset, one
    * container parse + per-sampled-frame decode per video. DISTINCT
    * rows: a long static shot contributes one signature (bounds store
    * size by perceptual variety, not duration). */
  def signatures(media: DataFrame, videoStride: Int = 2): DataFrame =
    imageSigRows(media)
      .unionByName(videoSigRows(media, videoStride))
      .unionByName(audioSigRows(media))
      .distinct()
      // per-asset signature census, PERSISTED at ingest (one O(batch)
      // window) so every later novelty probe reads its containment
      // denominator from the store row instead of re-running a window
      // shuffle over the WHOLE history per batch — at a 100 TB corpus
      // the store is ~0.1% of corpus bytes but still far larger than
      // any daily batch. Contract: an asset's rows arrive within ONE
      // batch (each media row carries its whole payload); re-ingesting
      // a CHANGED asset under the same id should deleteSignatures
      // first, else its old and new rows carry per-batch censuses and
      // probes read the max (conservative: a larger denominator only
      // lowers match fractions).
      .withColumn("n_sigs", size(collect_set(col("sig")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("media_id"), col("kind")))))

  private val ParamsFile = "_params.properties" // underscore: ignored by Spark's file index

  private def writeExtractionParams(spark: SparkSession, dir: String,
      videoStride: Int): Unit = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(root, ParamsFile), true)
    try out.write(s"videoStride=$videoStride\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The video frame-sampling stride recorded at [[build]] time — the
    * stride every later [[append]] and probe must extract with, or
    * containment fractions silently break (a twin sampled at a
    * different stride shares only the stride-aligned subset of frame
    * signatures). None for a store predating the params file. */
  def recordedVideoStride(spark: SparkSession, dir: String): Option[Int] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(root, ParamsFile)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val props = new java.util.Properties()
      try props.load(in) finally in.close()
      Option(props.getProperty("videoStride")).map(_.toInt)
    }
  }

  /** Build the store from scratch: the one full-corpus decode pass this
    * corpus will ever pay. Records the extraction parameters (the
    * [[graft.ops.MinHashBandStore]] self-describing-store discipline)
    * AFTER the parquet overwrite, which truncates the directory. */
  def build(media: DataFrame, dir: String, videoStride: Int = 2): Unit = {
    signatures(media, videoStride)
      .write.mode("overwrite").partitionBy("kind").parquet(dir)
    writeExtractionParams(media.sparkSession, dir, videoStride)
  }

  /** Incrementally index an ingest batch against the existing store —
    * the daily-crawl path: extraction touches ONLY the batch's
    * payloads; parquet append touches only the affected kind
    * directories. (Same serving contract as [[graft.ops.IvfIndex
    * .append]]: the store never re-reads what it already holds.)
    *
    * `videoStride = 0` (the default) means "the store's recorded
    * stride" — an EXPLICIT stride that contradicts the recorded one
    * throws rather than silently mixing incompatible frame censuses. */
  def append(media: DataFrame, dir: String, videoStride: Int = 0): Unit = {
    val recorded = recordedVideoStride(media.sparkSession, dir)
    val stride =
      if (videoStride == 0) recorded.getOrElse(2)
      else {
        recorded.filter(_ != videoStride).foreach(r =>
          throw new java.io.IOException(
            s"SignatureStore.append: videoStride=$videoStride contradicts the " +
              s"store's recorded stride $r — mixed strides silently break video " +
              "containment; rebuild the store to change the stride"))
        videoStride
      }
    signatures(media, stride)
      .write.mode("append").partitionBy("kind").parquet(dir)
  }

  /** Store schema, explicit (`kind` is the partition column): a store
    * built from an EMPTY corpus — the bootstrap state of a brand-new
    * ingest loop — has no data files, so schema inference would fail;
    * with the schema given it loads as an empty typed frame and every
    * downstream novelty probe degrades to keep-everything. */
  val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "media_id BIGINT, sig BIGINT, thumb BINARY, n_sigs INT, kind STRING")

  def load(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schema).parquet(dir)

  /** Store maintenance — the kind-keyed twin of
    * [[graft.ops.IvfIndex.compactPostings]]: daily [[append]] batches
    * leave each kind directory with one-plus small files per day (and a
    * RETRIED append leaves duplicate signature rows — harmless for
    * novelty, which aggregates distinct sigs, but wasteful), so
    * kinds holding ≥ `minFilesPerKind` files are re-read, DEDUPED
    * (exact duplicate rows collapse — append idempotence is restored
    * here, not promised per-call), and rewritten; the file census is a
    * driver listing bounded by the 3 kinds, and untouched kinds' files
    * are never opened or listed into a job. Each kind directory swaps
    * through [[graft.io.StagedSwap.replace]] (trash here holds only
    * redundant copies, so its cleanup failure warns).
    * Novelty results are identical before/after by construction (gated
    * in multimodal_signature_store). Returns the compacted kinds. */
  def compact(spark: SparkSession, dir: String,
      maxRecordsPerFile: Long = 5000000L,
      minFilesPerKind: Int = 2): Seq[String] = {
    val counts = graft.io.Layout.partitionFileCounts(spark, dir, "kind")
    val victims = counts.filter(_._2 >= minFilesPerKind).keys.toSeq.sorted
    if (victims.isEmpty) return victims
    val token = spark.sparkContext.applicationId
    val staging = s"$dir.compact_$token"
    load(spark, dir)
      .where(col("kind").isin(victims: _*))
      // distinct over the IDENTITY columns (a mixed-era store may hold
      // the same signature row with and without a census value — those
      // must collapse to one row, not survive as near-duplicates)
      .select(col("media_id"), col("sig"), col("thumb"), col("kind"))
      .distinct()
      // census repair/upgrade: recompute n_sigs from the deduped rows —
      // heals rows written before the census column existed (NULL under
      // the explicit schema) and any stale per-batch census left by
      // re-ingesting a changed asset; the one-time window is maintenance
      // cost, paid exactly where maintenance belongs
      .withColumn("n_sigs", size(collect_set(col("sig")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("media_id"), col("kind")))))
      .repartition(col("kind"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("kind")
      .parquet(staging)
    graft.io.StagedSwap.replacePartitions(spark, dir, "kind", victims,
      staging, "compact", trashHoldsVictims = false,
      op = "SignatureStore.compact")
    victims
  }

  /** Takedown for the store — when an asset is deleted from the corpus
    * (right-to-be-forgotten), its SIGNATURES must go too, or novelty
    * keeps suppressing look-alikes of content the corpus no longer
    * holds. Kind-partitioned rewrite of only the kinds holding victim
    * rows, swapped like [[compact]]; a kind whose EVERY signature was a
    * victim stages nothing and is removed (the explicit-schema load
    * handles it). Trash holds the victim signatures, so a failed trash
    * cleanup throws (the [[graft.io.Layout.deleteRows]] takedown
    * semantics). Returns the kinds rewritten. */
  def deleteSignatures(spark: SparkSession, dir: String,
      ids: DataFrame): Seq[String] = {
    val idFrame = ids.select(col(ids.columns.head).cast("long").as("media_id"))
    val affected = load(spark, dir).join(idFrame, Seq("media_id"), "left_semi")
      .select(col("kind")).distinct().collect().map(_.getString(0)).toSeq.sorted
    if (affected.isEmpty) return affected
    val token = spark.sparkContext.applicationId
    val staging = s"$dir.delete_$token"
    load(spark, dir)
      .where(col("kind").isin(affected: _*))
      .join(idFrame, Seq("media_id"), "left_anti")
      .repartition(col("kind"))
      .write.mode("overwrite").partitionBy("kind").parquet(staging)
    graft.io.StagedSwap.replacePartitions(spark, dir, "kind", affected,
      staging, "delete", trashHoldsVictims = true,
      op = "SignatureStore.deleteSignatures")
    affected
  }

  /** Banded-join candidacy of incoming signatures against one kind's
    * history signatures, verified and aggregated to matched incoming
    * ids — the cross-frame (incoming × history) generalization of
    * [[Multimodal.sigOverlapPairs]]' self-join, with the same
    * pigeonhole banding (a pair within `maxHamming` bits must agree on
    * ≥1 of maxHamming+1 disjoint chunks), the same exact `bit_count`
    * verify, the same optional thumbnail verify on candidates only,
    * and the same CONTAINMENT match fraction
    * (n_matched / least(n_in, n_hist) — a trim of a longer history
    * asset still scores 1.0). Returns distinct matched incoming ids.
    * Payload bytes appear nowhere: both sides are (id, sig[, thumb])
    * projections.
    *
    * HOT-BUCKET SAFETY: candidacy runs through [[graft.ops.Dedup
    * .nearSimPairsCross]] — history's DISTINCT sims build bounded
    * posting lists per banding bucket (`maxBucket` cap, over-cap
    * buckets leave candidacy) plus a latch-free sentinel ident chunk,
    * so a crawl-scale mass of near-constant signatures accumulated in
    * history (solid-black frames, silence padding) bounds the probe at
    * ≤ (maxHamming+1)·maxBucket+1 history sims per incoming signature
    * row instead of going O(bucket²) — and an incoming signature
    * IDENTICAL to a history signature still matches no matter how hot
    * its band buckets are. The ownership re-join on `sim_r` then fans
    * each candidate sim back out to the history assets owning it:
    * that mass is the operator's real output obligation (every owning
    * (in, hist) pair gets a containment/verify decision), bounded by
    * true duplicate mass rather than by a latch.
    *
    * Consumption discipline: the INCOMING side's per-asset census (the
    * containment denominator) is a WINDOW column so the decode-bearing
    * frame is consumed exactly ONCE — its ownership columns travel
    * through the candidacy join (pinned by the signature-store query's
    * `steady_batch_history_decodes` gate). The HISTORY side reads its
    * census from the store's persisted `n_sigs` column when present
    * (written once at ingest — a daily probe must not re-window the
    * whole history store per batch; the window fallback covers raw
    * frames without the column). History is a payload-free signature
    * scan, read twice (distinct sims for the index; ownership rows for
    * the re-join) — 16–72-byte rows, no decodes either way. */
  private[graft] def matchedIds(inSigs: DataFrame, histSigs: DataFrame,
      maxHamming: Int, bits: Int, minMatchFrac: Double,
      maxThumbMae: Option[Double], maxBucket: Int = 4096): DataFrame =
    matchedPairs(inSigs, histSigs, maxHamming, bits, minMatchFrac,
      maxThumbMae, maxBucket)
      .select(col("in_id").as("media_id")).distinct()

  /** The PAIR form of [[matchedIds]]: (in_id, hist_id) for every
    * (incoming, history) asset pair the containment decision matches —
    * the takedown expansion's working set. Same candidacy, verify, and
    * containment thresholding; pairs are distinct; no self-exclusion
    * (in/history are distinct domains for the probe/decontam callers —
    * [[matchedPairsFromStore]] filters self when both sides are the
    * same store). */
  private[graft] def matchedPairs(inSigs: DataFrame, histSigs: DataFrame,
      maxHamming: Int, bits: Int, minMatchFrac: Double,
      maxThumbMae: Option[Double], maxBucket: Int = 4096): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 30,
      s"maxHamming in [1,30), got $maxHamming")
    require(bits >= maxHamming + 1 && bits <= 64,
      s"bits in [maxHamming+1, 64], got $bits")
    val wOwn = org.apache.spark.sql.expressions.Window.partitionBy(col("media_id"))
    def withCensus(df: DataFrame, idCol: String, sigCol: String,
        thumbCol: String, nCol: String): DataFrame = {
      // a store written BEFORE the census column reads as all-NULL
      // n_sigs under the explicit schema; silently proceeding would
      // wreck the containment denominator (least() skips NULLs), so
      // fail LOUDLY with the upgrade path instead (the
      // mergeSourceSignatures raise_error discipline)
      val censused =
        if (df.columns.contains("n_sigs"))
          df.withColumn("_n_own", when(col("n_sigs").isNull,
              raise_error(lit("SignatureStore: row lacks the n_sigs census " +
                "(store predates it?) — run SignatureStore.compact(minFilesPerKind = 1) " +
                "to upgrade, or rebuild")))
            .otherwise(col("n_sigs")))
        else df.withColumn("_n_own", size(collect_set(col("sig")).over(wOwn)))
      val kept = Seq(col("media_id").as(idCol), col("sig").as(sigCol),
        col("_n_own").as(nCol)) ++
        (if (maxThumbMae.isDefined) Seq(col("thumb").as(thumbCol)) else Nil)
      censused.select(kept: _*)
    }
    val inRows = withCensus(inSigs, "in_id", "sim", "_ti", "_n_in")
    val histSims = histSigs.select(col("sig").as("sim")).distinct()
    val histOwn = withCensus(histSigs, "hist_id", "sim_r", "_th", "_n_hist")
    val thumbMaeUdf = udf { (a: Array[Byte], b: Array[Byte]) => Codec.thumbMae(a, b) }
    val verified = maxThumbMae match {
      case Some(mae) => thumbMaeUdf(col("_ti"), col("_th")) <= mae
      case None      => lit(true)
    }
    graft.ops.Dedup.nearSimPairsCross(inRows, histSims, maxHamming, bits, maxBucket)
      // chunk-multiplicity dedupe BEFORE the ownership fan-out: a pair
      // agreeing on several chunks surfaces once per chunk (up to
      // maxHamming+2 copies), and every copy would otherwise pay the
      // histOwn join and a thumb verify — a ~9x constant on the true
      // duplicate mass at the defaults
      .distinct()
      .join(histOwn, Seq("sim_r"))
      .where(verified)
      .select(col("in_id"), col("hist_id"), col("sim").as("sig_in"),
        col("_n_in"), col("_n_hist"))
      .distinct() // a pair agreeing on several chunks surfaces once
      .groupBy(col("in_id"), col("hist_id"))
      // max, not first: deterministic, and on a store holding mixed
      // per-batch censuses for a re-ingested asset the LARGER
      // denominator is the conservative read (fractions only shrink)
      .agg(countDistinct(col("sig_in")).as("n_matched"),
        max(col("_n_in")).as("n_in"), max(col("_n_hist")).as("n_hist"))
      .where(col("n_matched").cast("double") /
        least(col("n_in"), col("n_hist")) >= minMatchFrac)
      .select(col("in_id"), col("hist_id")).distinct()
  }

  /** (victim media_id, history media_id) pairs under the store's own
    * per-kind containment decisions, computed entirely from STORED
    * signature rows (the victim's recorded signatures are the probe
    * side — no payload decode anywhere). Budgets are the
    * [[matchedAgainstStore]] defaults, i.e. store-parity. Self-pairs
    * excluded. */
  def matchedPairsFromStore(spark: SparkSession, dir: String,
      ids: DataFrame): DataFrame = {
    val store = load(spark, dir)
    val vIds = ids.select(col(ids.columns.head).cast("long").as("media_id"))
    def slice(k: String) = store.where(col("kind") === k)
      .select(col("media_id"), col("sig"), col("thumb"), col("n_sigs"))
    def vSlice(k: String) = slice(k).join(vIds, Seq("media_id"), "left_semi")
    val img = matchedPairs(vSlice("image"), slice("image"),
      maxHamming = 7, bits = 64, minMatchFrac = 1.0, Some(6.0))
    val vid = matchedPairs(vSlice("video"), slice("video"),
      maxHamming = 7, bits = 64, minMatchFrac = 0.8, Some(3.0))
    val aud = matchedPairs(vSlice("audio"), slice("audio"),
      maxHamming = 3, bits = 32, minMatchFrac = 0.9, None)
    img.unionByName(vid).unionByName(aud)
      .where(col("in_id") =!= col("hist_id"))
      .select(col("in_id").as("media_id"), col("hist_id")).distinct()
  }

  /** Frozen-history perceptual novelty for ALL media kinds against the
    * persisted store: drop every incoming asset that is a perceptual
    * near-dup of ANY history asset — images by single-signature pHash +
    * thumbnail verify (identical contract and thresholds as
    * [[Multimodal.perceptualNoveltyBatch]]; the gated query pins the
    * two forms equal on images), video by sampled-frame signature
    * containment with per-frame thumbnail verify (the
    * [[Multimodal.videoNearDupPairs]] discipline vs history), audio by
    * window-fingerprint containment ([[Multimodal.audioNearDupPairs]]
    * vs history). Rows of unknown kind and undecodable payloads pass
    * through — an unprovable dup must not be dropped.
    *
    * Steady-state cost: decode INCOMING once (the [[signatures]]
    * projection), then banding equi-joins over 16–72-byte signature
    * rows. History payloads are never read — the store has no payload
    * column to read.
    *
    * `videoStride` must equal the STORE's recorded stride
    * ([[recordedVideoStride]]) — a mismatch samples the incoming twin
    * at different frames than history and silently deflates video
    * containment; both default to 2.
    *
    * `maxVideoThumbMae` is TIGHTER than the image budget: a short video
    * has only a handful of distinct sampled-frame signatures, so its
    * containment denominator `least(n_in, n_hist)` can be 1–2 and one
    * colliding frame pair decides the whole asset — measured at sf0.1,
    * cross-content frames from the smooth fixture family collide at
    * Hamming 0 with thumb MAE 3.9 (inside the image budget 6), while
    * genuine frame re-encode twins measure ≤1. 3.0 separates the two
    * with 3× margin on the twin side. */
  def noveltyAgainstStore(incoming: DataFrame, store: DataFrame,
      maxHamming: Int = 7, maxThumbMae: Double = 6.0, videoStride: Int = 2,
      maxFrameHamming: Int = 7, minVideoMatchFrac: Double = 0.8,
      maxVideoThumbMae: Double = 3.0,
      maxWindowHamming: Int = 3, minAudioMatchFrac: Double = 0.9): DataFrame =
    // barrier: without it the anti join pushes through a union-shaped
    // incoming, duplicating the matched pipeline (and its incoming
    // decodes) into every branch — see Multimodal.survivorsBarrier
    Multimodal.survivorsBarrier(incoming, "store_novelty_in")
      .join(matchedAgainstStore(incoming, store, maxHamming, maxThumbMae,
          videoStride, maxFrameHamming, minVideoMatchFrac, maxVideoThumbMae,
          maxWindowHamming, minAudioMatchFrac),
        Seq("media_id"), "left_anti")

  /** The FLAG form of [[noveltyAgainstStore]]: the distinct incoming
    * media_ids that perceptually match ANY store asset, per the same
    * per-kind thresholds. Two workloads consume it:
    *
    *  - novelty ingest drops the matched set (the anti-join above);
    *  - BENCHMARK DECONTAMINATION audits it — with `store` built from
    *    an evaluation suite's assets instead of ingest history, the
    *    matched ids are training assets that leak eval content (the
    *    ImageNet-val-in-LAION problem), the media twin of
    *    [[graft.text.TextQueries.contaminationBloomVs]]. The benchmark
    *    suite's payloads are decoded ONCE, at store build; every
    *    training scan pays only its own signature pass plus banding
    *    equi-joins over 16–72-byte rows. */
  def matchedAgainstStore(incoming: DataFrame, store: DataFrame,
      maxHamming: Int = 7, maxThumbMae: Double = 6.0, videoStride: Int = 2,
      maxFrameHamming: Int = 7, minVideoMatchFrac: Double = 0.8,
      maxVideoThumbMae: Double = 3.0,
      maxWindowHamming: Int = 3, minAudioMatchFrac: Double = 0.9): DataFrame = {
    // per-kind builders directly — NOT kind-filters over the unioned
    // [[signatures]] frame: a filter above the union cannot push into
    // mapPartitions branches, so each of the three probes would
    // re-evaluate (re-decode) all three incoming branches
    def slice(df: DataFrame, k: String) =
      df.where(col("kind") === k)
        .select(col("media_id"), col("sig"), col("thumb"), col("n_sigs"))
    // image: one signature per asset ⇒ containment over least(1, n) is
    // simply "any verified match" — the perceptualNoveltyBatch contract
    val img = matchedIds(imageSigRows(incoming).distinct(), slice(store, "image"),
      maxHamming, bits = 64, minMatchFrac = 1.0, Some(maxThumbMae))
    val vid = matchedIds(videoSigRows(incoming, videoStride).distinct(),
      slice(store, "video"), maxFrameHamming, bits = 64, minVideoMatchFrac,
      Some(maxVideoThumbMae))
    val aud = matchedIds(audioSigRows(incoming).distinct(), slice(store, "audio"),
      maxWindowHamming, bits = 32, minAudioMatchFrac, None)
    img.union(vid).union(aud).distinct()
  }
}
