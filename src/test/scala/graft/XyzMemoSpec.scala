package graft

import graft.core.{Hex7, S2}
import graft.functions.S2Expressions.{hex7Cell, s2Cell16}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The S2 and Hex7 codegen expressions of one generated class share one
  * unit-vector memo (`graft.core.XyzMemo`). Interleaving them over two
  * coordinate pairs that often share a latitude or repeat a point must
  * still give each row the direct kernels' cells, with whole-stage codegen
  * on, off, and with no codegen at all. */
class XyzMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .appName("xyz-memo-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** (lat, lng, lat2, lng2): the second pair shares the first's latitude,
    * or its longitude, or the whole point, or neither; runs of one point
    * repeat; the odd rows are NaN, a signed zero and the poles. */
  private val rows: Seq[(Double, Double, Double, Double)] = {
    val rnd = new java.util.SplittableRandom(20261019L)
    def lat() = math.toDegrees(math.asin(rnd.nextDouble(-1.0, 1.0)))
    def lng() = rnd.nextDouble(-180.0, 180.0)
    val seeded = (0 until 4000).flatMap { i =>
      val (a, b) = (lat(), lng())
      val row = i % 4 match {
        case 0 => (a, b, a, lng())
        case 1 => (a, b, lat(), b)
        case 2 => (a, b, a, b)
        case _ => (a, b, lat(), lng())
      }
      Seq.fill(1 + i % 3)(row)
    }
    seeded ++ Seq((Double.NaN, 10.0, Double.NaN, 20.0), (-0.0, 0.0, 0.0, 0.0),
      (0.0, -0.0, 0.0, 0.0), (90.0, 0.0, 90.0, 45.0), (-90.0, 180.0, -90.0, -180.0))
  }

  private def check(conf: (String, String)*): Unit = {
    val before = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // an RDD, not a local relation: the optimizer would fold a projection
      // over local rows before any code is generated
      val got = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2))
        .toDF("lat", "lng", "lat2", "lng2")
        .where(hex7Cell(col("lat2"), col("lng2"), 9) =!= 0L)
        .select(
          s2Cell16(col("lat"), col("lng")), hex7Cell(col("lat2"), col("lng2"), 9),
          hex7Cell(col("lat"), col("lng"), 9), s2Cell16(col("lat2"), col("lng2")),
          hex7Cell(col("lat"), col("lng"), 15), hex7Cell(col("lat2"), col("lng2"), 15),
          col("lat"), col("lng"), col("lat2"), col("lng2"))
        .collect()
      assert(got.length == rows.length)
      got.foreach { r =>
        val (lat, lng, lat2, lng2) = (r.getDouble(6), r.getDouble(7), r.getDouble(8), r.getDouble(9))
        val want = Seq(S2.cellAt(lat, lng, 16), Hex7.fromLatLngDegrees(lat2, lng2, 9),
          Hex7.fromLatLngDegrees(lat, lng, 9), S2.cellAt(lat2, lng2, 16),
          Hex7.fromLatLngDegrees(lat, lng, 15), Hex7.fromLatLngDegrees(lat2, lng2, 15))
        assert((0 until 6).map(r.getLong) == want, s"row ($lat, $lng, $lat2, $lng2)")
      }
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("interleaved s2Cell16/hex7Cell equal the direct kernels with whole-stage codegen") {
    check("spark.sql.codegen.wholeStage" -> "true")
  }

  test("interleaved s2Cell16/hex7Cell equal the direct kernels without whole-stage codegen") {
    check("spark.sql.codegen.wholeStage" -> "false")
  }

  test("interleaved s2Cell16/hex7Cell equal the direct kernels when interpreted") {
    check("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
  }
}
