package graft

import graft.core.Tiles
import graft.functions.S2Expressions
import graft.ops.Tiling
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The one packed-TileID decode (`S2Expressions.tileXYZ`) over the codegen
  * tile chain against the core tile math, and the MVT point sink's tile
  * assignment against `pointManifest`. */
class TileDecodeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 2)
    .config("spark.ui.enabled", "false")
    .appName("tile-decode-test").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Seeded uniform points plus the hard cases: beyond the ±85.06 Mercator
    * clamp, the poles, lng = ±180, and points exactly on tile edges (the
    * corners `Tiles.tileBoundsDeg` gives) at every zoom 1..15. */
  private lazy val points: Seq[(Long, Double, Double)] = {
    val rnd = new scala.util.Random(20261020L)
    val uniform = Seq.fill(300)((rnd.nextDouble() * 180 - 90, rnd.nextDouble() * 360 - 180))
    val extremes = for {
      lat <- Seq(-90.0, -85.1, -85.06, -85.05, 0.0, 85.05, 85.06, 85.1, 90.0)
      lng <- Seq(-180.0, -179.999, 0.0, 179.999, 180.0)
    } yield (lat, lng)
    val edges = for {
      z <- 1 to 15
      _ <- 1 to 6
    } yield {
      val n = 1L << z
      val (latLo, latHi, lngLo, lngHi) =
        Tiles.tileBoundsDeg(z, (rnd.nextDouble() * n).toLong, (rnd.nextDouble() * n).toLong)
      if (rnd.nextBoolean()) (latHi, lngLo) else (latLo, lngHi)
    }
    (uniform ++ extremes ++ edges).zipWithIndex.map { case ((la, lo), i) => (i.toLong, la, lo) }
  }

  private def pointFrame: DataFrame = {
    import spark.implicits._
    points.toDF("image_id", "lat", "lng")
  }

  private def decoded(zMin: Int, zMax: Int): Array[(Long, Long, Int, Long, Long)] = {
    val (z, x, y) = S2Expressions.tileXYZ(col("tid"))
    pointFrame
      .select(col("image_id"), explode(S2Expressions.tileChain(
        col("lat"), col("lng"), zMin, zMax)).as("tid"))
      .select(col("image_id"), col("tid"), z, x, y)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
  }

  private def checkAgainstCore(zMin: Int, zMax: Int): Unit = {
    val byId = points.map(p => p._1 -> p).toMap
    val rows = decoded(zMin, zMax)
    assert(rows.length == points.length * (zMax - zMin + 1))
    rows.groupBy(_._1).foreach { case (id, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (zMin to zMax), s"point $id zooms")
    }
    rows.foreach { case (id, tid, z, x, y) =>
      val (_, lat, lng) = byId(id)
      assert(Tiles.tileIdToXYZ(tid) == ((x, y, z)), s"point $id z=$z: decode vs tileIdToXYZ")
      assert(Tiles.tileFromLatLng(lat, lng, z) == ((x, y)),
        s"point $id ($lat, $lng) z=$z: decode vs tileFromLatLng")
    }
  }

  test("shared decode of the codegen chain equals the core tile math, zooms 1-15") {
    checkAgainstCore(1, 15)
  }

  test("shared decode stays exact when the packed zoom sets the sign bit") {
    checkAgainstCore(16, 24)
  }

  test("pointManifest is the shared decode of the chain") {
    val want = decoded(1, 15).map { case (id, _, z, x, y) => (id, z, x, y) }.toSet
    val got = Tiling.pointManifest(pointFrame, 1, 15).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
  }

  test("mvtPointTiles assigns the same tiles as pointManifest") {
    Seq(1, 8, 15).foreach { zoom =>
      val want = Tiling.pointManifest(pointFrame, zoom, zoom)
        .groupBy("z", "x", "y").count()
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val got = Tiling.mvtPointTiles(pointFrame, zoom, "images")
        .select("z", "x", "y", "n_features")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == want, s"zoom $zoom")
    }
  }
}
