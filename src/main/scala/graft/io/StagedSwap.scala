package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Crash-safe replacement of live store paths by staged copies — the one
  * swap behind every store mutator that rewrites data in place
  * ([[Layout.deleteRows]], the IVF compaction, rebuild and cell split,
  * the signature and MinHash-band stores, the model retrain). A fix here
  * (rename semantics on an object store, a fault-injection point for
  * crash drills) must not fork across the stores.
  *
  * The contract:
  *  - The caller first writes the complete new content of every part to
  *    a staging path, never into the live tree.
  *  - Each part then swaps by two CHECKED renames, live → trash and
  *    staged → live; a failed rename throws. A rename is atomic per
  *    directory on HDFS and local filesystems (object stores need their
  *    own atomic-commit layer), so a reader never sees a torn or mixed
  *    directory. A crash between the two renames leaves the part ABSENT,
  *    with the old copy in trash and the new one in staging: recoverable
  *    from either, never silently lost.
  *  - A part with no staged copy is removed: live goes to trash and
  *    nothing replaces it (a partition whose every row was deleted —
  *    `partitionBy` stages no directory for zero rows).
  *  - A trash path left by an earlier crash is deleted (checked) before
  *    live moves there: renaming onto it would nest live inside it on
  *    HDFS and fail on a local filesystem.
  *  - Trash is dropped only after every rename landed. When it holds
  *    takedown VICTIMS a failed delete throws — "success" with trash
  *    left behind would mean deleted rows silently persist on disk; when
  *    it holds redundant copies a failed delete only warns. Leftover
  *    staging (copies of surviving data) always only warns.
  *  - The renames bypass Spark's write path, so the swapped paths are
  *    refreshed in the session catalog right after them: a frame cached
  *    over them, or the session's file-status cache, would otherwise
  *    keep serving the replaced files — a takedown would stay visible to
  *    the session that ran it, and a later read could die on
  *    renamed-away files.
  *
  * Multi-component migrations ([[rollForward]]) add a marker fence: the
  * caller writes the marker ([[Layout.writeFileAtomic]]) only once its
  * staging is COMPLETE, every reader throws while the marker exists, and
  * a re-run finishes the swap from staging (roll-forward, never back).
  * The marker goes last, after the trash and staging.
  *
  * Renames and deletes are driver-side filesystem calls, not Spark
  * jobs. The filesystem is a parameter so a test can substitute a
  * faulty one. */
object StagedSwap {

  /** One swapped path: the live copy, its staged replacement, and where
    * the live copy waits until the operation completes. */
  final case class Part(live: Path, staged: Path, trash: Path)

  /** Swap every part into place, refresh `root` (the store path the
    * parts live under), then drop the parts' trash and `staging`.
    * `trashHoldsVictims` picks the cleanup policy: throw when the trash
    * holds takedown victims, warn when it holds redundant copies. `op`
    * prefixes every message. */
  def replace(spark: SparkSession, fs: FileSystem, root: String,
      parts: Seq[Part], staging: Option[Path], trashHoldsVictims: Boolean,
      op: String): Unit = {
    parts.foreach(swap(fs, _, op))
    spark.catalog.refreshByPath(root)
    parts.foreach(p => dropTrash(fs, p.trash, trashHoldsVictims, op))
    staging.foreach(dropStaging(fs, _, op))
  }

  /** [[replace]] for hive partition directories `<partCol>=<v>` of
    * `root`, each staged under the same name in `staging`, with trash
    * `<root>/.trash_<tag>_<applicationId>_<partCol>=<v>`. */
  def replacePartitions(spark: SparkSession, root: String, partCol: String,
      values: Seq[String], staging: String, tag: String,
      trashHoldsVictims: Boolean, op: String): Unit = {
    val r = new Path(root)
    val s = new Path(staging)
    val token = spark.sparkContext.applicationId
    replace(spark, r.getFileSystem(spark.sparkContext.hadoopConfiguration),
      root, values.map(v => Part(live = new Path(r, s"$partCol=$v"),
        staged = new Path(s, s"$partCol=$v"),
        trash = new Path(r, s".trash_${tag}_${token}_$partCol=$v"))),
      Some(s), trashHoldsVictims, op)
  }

  /** Finish a marker-fenced migration: swap every part whose staged copy
    * still exists (the others swapped before a crash), move each
    * `retire` (live, trash) pair's live path to trash without a
    * replacement, refresh `refresh`, drop every path in `trash` and the
    * `staging` root, then delete `marker` (checked). Re-running it after
    * a crash at any step yields the same store. Trash here always holds
    * the retired generation — redundant copies — so its cleanup warns. */
  def rollForward(spark: SparkSession, fs: FileSystem, marker: Path,
      staging: Path, parts: Seq[Part], retire: Seq[(Path, Path)],
      trash: Seq[Path], refresh: Seq[String], op: String): Unit = {
    parts.filter(p => fs.exists(p.staged)).foreach(swap(fs, _, op))
    retire.foreach { case (live, t) => toTrash(fs, live, t, op) }
    refresh.foreach(spark.catalog.refreshByPath)
    trash.foreach(dropTrash(fs, _, trashHoldsVictims = false, op))
    dropStaging(fs, staging, op)
    if (!fs.delete(marker, false))
      throw new java.io.IOException(s"$op: marker delete failed: $marker")
  }

  private def swap(fs: FileSystem, p: Part, op: String): Unit = {
    toTrash(fs, p.live, p.trash, op)
    if (fs.exists(p.staged)) move(fs, p.staged, p.live, op)
    else System.err.println(s"[swap] NOTE $op: nothing staged at " +
      s"${p.staged} — ${p.live} removed")
  }

  private def toTrash(fs: FileSystem, live: Path, trash: Path,
      op: String): Unit =
    if (fs.exists(live)) {
      if (fs.exists(trash) && !fs.delete(trash, true))
        throw new java.io.IOException(
          s"$op: delete of stale trash $trash failed")
      fs.mkdirs(trash.getParent)
      move(fs, live, trash, op)
    }

  private def move(fs: FileSystem, src: Path, dst: Path, op: String): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"$op: rename $src -> $dst failed")

  private def dropTrash(fs: FileSystem, trash: Path,
      trashHoldsVictims: Boolean, op: String): Unit =
    if (fs.exists(trash) && !fs.delete(trash, true)) {
      if (trashHoldsVictims)
        throw new java.io.IOException(s"$op: swap complete but cleanup of " +
          s"$trash FAILED — the replaced data, deleted rows included, is " +
          "still on disk at that path; remove it manually")
      System.err.println(s"[swap] WARN $op: cleanup of $trash failed " +
        "(swap complete; leftover trash holds only redundant copies)")
    }

  private def dropStaging(fs: FileSystem, staging: Path, op: String): Unit =
    if (fs.exists(staging) && !fs.delete(staging, true))
      System.err.println(s"[swap] WARN $op: cleanup of $staging failed " +
        "(swap complete; leftover staging only)")
}
