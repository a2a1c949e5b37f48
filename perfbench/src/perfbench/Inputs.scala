package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded synthetic inputs. The program only ever sees the frames built
  * here; the same seed always yields the same rows. */
object Inputs {
  /** `clusters` component centers, N(0, sep²) per coordinate. */
  def centers(seed: Long, clusters: Int, dim: Int, sep: Double): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    Array.fill(clusters, dim)(rng.nextGaussian() * sep)
  }

  /** `n` rows of the Gaussian mixture around `centers`: a component
    * drawn per row, plus N(0, 1) per coordinate, plus `shift`. */
  def sample(seed: Long, centers: Array[Array[Double]], n: Int,
      shift: Array[Double] = null): Array[Array[Float]] = {
    val rng = new java.util.Random(seed)
    Array.fill(n) {
      val c = centers(rng.nextInt(centers.length))
      Array.tabulate(c.length)(k =>
        (c(k) + rng.nextGaussian() + (if (shift == null) 0.0 else shift(k))).toFloat)
    }
  }

  /** (idCol BIGINT, vecCol ARRAY<FLOAT>) over `parts` partitions. */
  def frame(spark: SparkSession, ids: Array[Long], vecs: Array[Array[Float]],
      idCol: String, vecCol: String, parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField(idCol, LongType, nullable = false),
      StructField(vecCol, ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = ids.indices.map(i => Row(ids(i), vecs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
  }
}
