package graft.ops

import graft.TestSpark
import graft.multimodal.SignatureStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A takedown must be visible to the session that ran it. A store frame
  * cached before the takedown would otherwise keep serving the victim
  * rows to every later load of the same path, because a fresh read of an
  * unchanged path resolves to the cached relation. */
class TakedownVisibilitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  test("SignatureStore.deleteSignatures: a cached store frame does not resurrect the victim") {
    import spark.implicits._
    val dir = tmp("sig-takedown")
    Seq((1L, 11L, Array[Byte](1), 1, "image"), (2L, 22L, Array[Byte](2), 1, "image"),
        (3L, 33L, Array[Byte](3), 1, "audio"))
      .toDF("media_id", "sig", "thumb", "n_sigs", "kind")
      .write.partitionBy("kind").parquet(dir)
    val cached = SignatureStore.load(spark, dir).cache()
    try {
      assert(cached.count() == 3)
      SignatureStore.deleteSignatures(spark, dir, Seq(1L).toDF("media_id"))
      assert(SignatureStore.load(spark, dir).where(col("media_id") === 1L).count() == 0,
        "the deleted signature is still visible to this session")
      assert(SignatureStore.load(spark, dir).count() == 2)
    } finally cached.unpersist()
  }

  test("MinHashBandStore.deleteDocs: a cached sigs frame does not resurrect the victim") {
    import spark.implicits._
    val dir = tmp("mh-takedown")
    MinHashBandStore.build(Seq((10L, "alpha beta gamma delta epsilon zeta"),
      (11L, "one two three four five six")).toDF("doc_id", "text"), dir)
    val cached = MinHashBandStore.loadSigs(spark, dir).cache()
    try {
      assert(cached.count() == 2)
      MinHashBandStore.deleteDocs(spark, dir, Seq(10L).toDF("doc_id"))
      assert(MinHashBandStore.loadSigs(spark, dir).where(col("doc_id") === 10L).count() == 0,
        "the deleted document's signature is still visible to this session")
      assert(MinHashBandStore.loadSigs(spark, dir).count() == 1)
    } finally cached.unpersist()
  }
}
