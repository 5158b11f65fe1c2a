package perfbench

import graft.core.Hashes
import graft.functions.S2Expressions
import graft.model.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs. Every frame the program sees is generated here from the
  * run's seed; nothing is read from disk. */
object Inputs {

  /** Independent input streams drawn from one seed. */
  val FlagshipImages = 1L
  val KnnImages = 2L
  val KnnQueries = 3L
  val StoreRows = 4L
  val StoreQueries = 5L
  val StoreDelta = 6L

  def mix(seed: Long, stream: Long, i: Long = 0L): Long =
    Hashes.splitmix64(Hashes.splitmix64(seed * 1000003L + stream) + i)

  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(seed, stream, i) >>> 11).toDouble / (1L << 53).toDouble

  /** The image keys of a stream start at a seeded offset below 2^40, which
    * keeps the generator's key products far from Long overflow. */
  def keyBase(seed: Long, stream: Long): Long = 1L + (mix(seed, stream) >>> 24)

  /** Images `lo until hi` of a seeded stream, shaped like
    * `Tables.imagesSynth`: the model layer's own image SQL
    * (`Synth.imagesSelectFromRange`: uniform points plus 20% in three urban
    * hot caps) over a seeded key range, plus the S2 level-16 cell. */
  def images(spark: SparkSession, seed: Long, stream: Long, lo: Long, hi: Long,
             parts: Int): DataFrame = {
    val base = keyBase(seed, stream)
    spark.range(lo, hi, 1, parts)
      .select((col("id") + lit(base)).as("o_orderkey"),
        lit("O").as("o_orderstatus"),
        (col("id") % 5).cast("string").as("o_orderpriority"),
        (col("id") % 100000).cast("double").as("o_totalprice"))
      .createOrReplaceTempView("orders")
    spark.sql(Synth.imagesSelectFromRange)
      .withColumn("cell16", S2Expressions.s2Cell16(col("lat"), col("lng")))
  }

  /** Key of image `i` of a stream (the `image_id` the generator gives it). */
  def imageId(seed: Long, stream: Long, i: Long): Long = keyBase(seed, stream) + i

  /** `n` query points, uniform in a lat/lng box, rounded to 5 decimals:
    * (query_id INT, qlat DOUBLE, qlng DOUBLE). */
  def queries(spark: SparkSession, seed: Long, stream: Long, n: Int,
              latLo: Double, latHi: Double, lngLo: Double, lngHi: Double): DataFrame = {
    def r5(d: Double) = math.rint(d * 100000.0) / 100000.0
    val rows = (0 until n).map { i =>
      (i, r5(latLo + (latHi - latLo) * unit(seed, stream, 2L * i)),
        r5(lngLo + (lngHi - lngLo) * unit(seed, stream, 2L * i + 1)))
    }
    spark.createDataFrame(rows).toDF("query_id", "qlat", "qlng")
  }

  /** Order-independent checksum of a frame's rows. */
  def checksum(df: DataFrame): Long =
    df.agg(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")))
      .head().getDecimal(0).longValue()
}
