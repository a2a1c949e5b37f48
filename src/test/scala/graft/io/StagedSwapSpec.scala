package graft.io

import graft.TestSpark
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The swap contract of [[StagedSwap]] on a local temp directory: removal
  * when nothing is staged, stale-trash handling, roll-forward after a
  * crash at every rename, and the victims-vs-redundant cleanup policy. */
class StagedSwapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def localFs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes(UTF_8))
  }

  /** Every file under `root` as relative path -> content. */
  private def snapshot(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val walk = Files.walk(r)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => r.relativize(f).toString ->
        new String(Files.readAllBytes(f), UTF_8)).toMap
    finally walk.close()
  }

  private def tmp(tag: String): String =
    Files.createTempDirectory(tag).toString

  /** A filesystem whose every delete reports failure. */
  private def deleteFails: FileSystem = new FilterFileSystem(localFs) {
    override def delete(f: Path, recursive: Boolean): Boolean = false
  }

  /** One partitioned store with one part: live `k=1` and staged `k=1`. */
  private def onePart(dir: String): StagedSwap.Part = {
    write(s"$dir/store/k=1/a", "old")
    write(s"$dir/staging/k=1/b", "new")
    StagedSwap.Part(new Path(s"$dir/store/k=1"), new Path(s"$dir/staging/k=1"),
      new Path(s"$dir/store/.trash_k=1"))
  }

  test("replace: the staged copy takes the live path; trash and staging are dropped") {
    val dir = tmp("swap-replace")
    val part = onePart(dir)
    StagedSwap.replace(spark, localFs, s"$dir/store", Seq(part),
      Some(new Path(s"$dir/staging")), trashHoldsVictims = true, op = "test")
    assert(snapshot(dir) == Map("store/k=1/b" -> "new"))
  }

  test("replace: no staged directory removes the live directory") {
    val dir = tmp("swap-remove")
    write(s"$dir/store/k=1/a", "victim")
    write(s"$dir/store/k=2/a", "kept")
    write(s"$dir/staging/_SUCCESS", "")
    StagedSwap.replace(spark, localFs, s"$dir/store",
      Seq(StagedSwap.Part(new Path(s"$dir/store/k=1"),
        new Path(s"$dir/staging/k=1"), new Path(s"$dir/store/.trash_k=1"))),
      Some(new Path(s"$dir/staging")), trashHoldsVictims = true, op = "test")
    assert(snapshot(dir) == Map("store/k=2/a" -> "kept"))
  }

  test("replace: a stale trash directory is cleared, not nested into") {
    val dir = tmp("swap-stale")
    val part = onePart(dir)
    write(s"$dir/store/.trash_k=1/stale", "from an earlier crash")
    var renames = Seq.empty[(String, String)]
    val recording = new FilterFileSystem(localFs) {
      override def rename(src: Path, dst: Path): Boolean = {
        renames :+= (src.getName -> dst.toUri.getPath.stripPrefix(dir))
        super.rename(src, dst)
      }
    }
    StagedSwap.replace(spark, recording, s"$dir/store", Seq(part),
      Some(new Path(s"$dir/staging")), trashHoldsVictims = false, op = "test")
    assert(renames == Seq("k=1" -> "/store/.trash_k=1", "k=1" -> "/store/k=1"),
      "live must land AT the trash path, not inside the stale one")
    assert(snapshot(dir) == Map("store/k=1/b" -> "new"))
  }

  test("replace: a failed victims-trash cleanup throws; a failed redundant-trash cleanup warns") {
    val victims = tmp("swap-victims")
    val e = intercept[java.io.IOException](StagedSwap.replace(spark,
      deleteFails, s"$victims/store", Seq(onePart(victims)),
      Some(new Path(s"$victims/staging")), trashHoldsVictims = true, op = "test"))
    assert(e.getMessage.contains(".trash_k=1") && e.getMessage.contains("FAILED"),
      e.getMessage)
    assert(snapshot(s"$victims/store").get("k=1/b").contains("new"),
      "the swap itself completes before the cleanup throws")

    val redundant = tmp("swap-redundant")
    StagedSwap.replace(spark, deleteFails, s"$redundant/store",
      Seq(onePart(redundant)), Some(new Path(s"$redundant/staging")),
      trashHoldsVictims = false, op = "test")
    assert(snapshot(s"$redundant/store") ==
      Map("k=1/b" -> "new", ".trash_k=1/a" -> "old"))
  }

  /** A three-component migration plus one retired path, staged under a
    * marker; returns the roll-forward's arguments and its renames in
    * the order an uninterrupted run performs them. */
  private def migration(dir: String) = {
    write(s"$dir/a.parquet/part-0", "old-a")
    write(s"$dir/header.properties", "generation=0")
    write(s"$dir/log.parquet/part-0", "old-log")
    write(s"$dir/_staging/a.parquet/part-0", "new-a")
    write(s"$dir/_staging/header.properties", "generation=1")
    write(s"$dir/_staging/fresh.parquet/part-0", "new-fresh") // no live copy yet
    write(s"$dir/m.inprogress", "from_generation=0")
    def p(s: String) = new Path(s"$dir/$s")
    val parts = Seq("a.parquet", "fresh.parquet", "header.properties").map(n =>
      StagedSwap.Part(p(n), p(s"_staging/$n"), p(s".trash_$n")))
    val retire = Seq(p("log.parquet") -> p(".trash_log.parquet"))
    val renames = Seq(
      parts(0).live -> parts(0).trash, parts(0).staged -> parts(0).live,
      parts(1).staged -> parts(1).live,
      parts(2).live -> parts(2).trash, parts(2).staged -> parts(2).live,
      retire(0))
    (parts, retire, renames)
  }

  private def rollForward(dir: String, parts: Seq[StagedSwap.Part],
      retire: Seq[(Path, Path)]): Unit =
    StagedSwap.rollForward(spark, localFs, new Path(s"$dir/m.inprogress"),
      new Path(s"$dir/_staging"), parts, retire,
      trash = parts.map(_.trash) ++ retire.map(_._2), refresh = Nil, op = "test")

  test("rollForward: a re-run after a crash at rename step k, for every k, ends where an uninterrupted run does") {
    val clean = tmp("swap-roll-clean")
    val (cp, cr, steps) = migration(clean)
    rollForward(clean, cp, cr)
    val expected = snapshot(clean)
    assert(expected == Map("a.parquet/part-0" -> "new-a",
      "fresh.parquet/part-0" -> "new-fresh",
      "header.properties" -> "generation=1"))
    (0 to steps.size).foreach { k =>
      val dir = tmp(s"swap-roll-$k")
      val (parts, retire, renames) = migration(dir)
      renames.take(k).foreach { case (src, dst) =>
        assert(localFs.rename(src, dst), s"test setup: rename $k") }
      rollForward(dir, parts, retire)
      assert(snapshot(dir) == expected, s"crash after rename $k")
    }
    // a crash after the cleanup, just before the marker delete
    val dir = tmp("swap-roll-marker")
    val (parts, retire, renames) = migration(dir)
    renames.foreach { case (src, dst) => assert(localFs.rename(src, dst)) }
    (parts.map(_.trash) ++ retire.map(_._2) :+ new Path(s"$dir/_staging"))
      .foreach(localFs.delete(_, true))
    rollForward(dir, parts, retire)
    assert(snapshot(dir) == expected, "crash before the marker delete")
  }
}
