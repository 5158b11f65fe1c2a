package graft.ops

import graft.core.Geo
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** The b6 scalar/geometry function surface (SURVEY.md §2.3) as Column
  * expressions and batched UDFs over the pure Geo kernel:
  *
  *   distance-meters            geometry.go:15-17   -> Udfs.haversineMeters
  *   centroid                   geometry.go:30-45   -> UDF over vertex arrays
  *   interpolate                geometry.go:47-51   -> UDF
  *   area (m^2)                 geometry.go:65-74   -> spherical-excess UDF
  *   length (meters)            features.go:225-227 -> UDF over vertex arrays
  *   sample-points              features.go:379-427 -> Polyline.samplePointsAlongPaths
  *   convex-hull                geometry.go:169-193 -> Aggregator (hull of a
  *                                                     grouped point set)
  *   rectangle-polygon/cap-pgon geometry.go:76-88   -> generator functions
  *   ll / distance accessors    geometry.go:11-17   -> struct(lat,lng)
  */
object Geometry {

  /** Centroid of a polyline given parallel lat/lng arrays. */
  val centroid = udf((lats: Seq[Double], lngs: Seq[Double]) =>
    Geo.centroid(lats.toArray, lngs.toArray))

  /** Point at fraction f (by arc length) along a polyline. */
  val interpolate = udf((lats: Seq[Double], lngs: Seq[Double], f: Double) =>
    Geo.interpolate(lats.toArray, lngs.toArray, f))

  /** Polyline length in meters. */
  val lengthMeters = udf((lats: Seq[Double], lngs: Seq[Double]) =>
    Geo.polylineLengthMeters(lats.toArray, lngs.toArray))

  /** Spherical polygon area in m^2 (shell ring). */
  val areaM2 = udf((lats: Seq[Double], lngs: Seq[Double]) =>
    Geo.sphericalAreaM2(lats.toArray, lngs.toArray))

  /** Convex-hull area as a typed Aggregator over grouped (lat, lng) points —
    * the reachable-area shape (SURVEY.md §2.5, api/functions/graph.go:202-216).
    * Buffers merge associatively and COMPACT to their hull above 256 points,
    * so partial (map-side) aggregation stays bounded no matter the group
    * size — the property that makes it safe at 10^12 rows. */
  object HullAreaAgg extends Aggregator[(Double, Double), List[(Double, Double)], Double] {
    def zero: List[(Double, Double)] = Nil
    def reduce(b: List[(Double, Double)], p: (Double, Double)): List[(Double, Double)] =
      compact(p :: b)
    def merge(a: List[(Double, Double)], b: List[(Double, Double)]): List[(Double, Double)] =
      compact(a ++ b)
    def finish(b: List[(Double, Double)]): Double = {
      val la = b.map(_._1).toArray
      val lo = b.map(_._2).toArray
      val idx = Geo.convexHull(la, lo)
      if (idx.length < 3) 0.0
      else Geo.sphericalAreaM2(idx.map(la(_)), idx.map(lo(_)))
    }
    private def compact(pts: List[(Double, Double)]): List[(Double, Double)] =
      if (pts.length <= 256) pts
      else {
        val la = pts.map(_._1).toArray
        val lo = pts.map(_._2).toArray
        Geo.convexHull(la, lo).toList.map(i => (la(i), lo(i)))
      }
    def bufferEncoder: org.apache.spark.sql.Encoder[List[(Double, Double)]] =
      org.apache.spark.sql.Encoders.kryo[List[(Double, Double)]]
    def outputEncoder: org.apache.spark.sql.Encoder[Double] =
      org.apache.spark.sql.Encoders.scalaDouble
  }

  /** cap-polygon (reference api/functions/geometry.go:76-88 builds a
    * 128-gon buffer around a point): an n-gon ring at `radiusMeters`,
    * equirect-scaled in longitude — a generator for explode() or as a clip/
    * containment input. */
  def capPolygon(n: Int) = udf((lat: Double, lng: Double, radiusMeters: Double) => {
    // pole guard (ADVICE r02): the equirect longitude scale 1/cos(lat) blows
    // up at the poles and would emit a garbage ring — fail loudly instead,
    // consistent with PruneWithinCap.capBounds' pole skip
    require(math.abs(lat) < 89.9,
      s"capPolygon: |lat|=$lat too close to the pole for the equirect buffer")
    val cosL = math.cos(math.toRadians(lat))
    (0 until n).map { i =>
      val th = 2 * math.Pi * i / n
      (lat + radiusMeters * math.cos(th) / 111320.0,
        lng + radiusMeters * math.sin(th) / (111320.0 * cosL))
    }
  })

  /** Polygon clip against a per-row lat/lng rect — the convex-window slice
    * of the reference's Foster polygon booleans (geometry/foster.go:21-27),
    * the shape tile-rect clipping needs. Returns (rings, clipped spherical
    * area; 0 when the clip result degenerates below 3 vertices). */
  val clipToRect = udf((lats: Seq[Double], lngs: Seq[Double],
                        latLo: Double, latHi: Double, lngLo: Double, lngHi: Double) => {
    val (cl, cg) = Geo.clipRingToRect(lats.toArray, lngs.toArray, latLo, latHi, lngLo, lngHi)
    (cl.toSeq, cg.toSeq, if (cl.length >= 3) Geo.sphericalAreaM2(cl, cg) else 0.0)
  })

  private val hullAreaUdaf = udaf(HullAreaAgg,
    org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaDouble, org.apache.spark.sql.Encoders.scalaDouble))

  /** Convex hull area (m^2) of each group's points — `reachable-area`
    * semantics (api/functions/graph.go:202-216): hull then spherical area.
    *
    * Runs through the BOUNDED HullAreaAgg aggregator (partial + final
    * aggregation; buffers compact to their hull at 256 points), never an
    * unbounded per-group collect — safe for 10^12-row groups. Result is
    * bit-deterministic regardless of merge order: the strict (collinear-
    * dropping) hull's extreme-point set is invariant under compaction, and
    * the final area walks the hull cycle from the deterministic leftmost
    * start vertex. */
  def hullAreaM2(df: DataFrame, groupCol: String, latCol: String, lngCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hullAreaUdaf(col(latCol), col(lngCol)).as("hull_area_m2"))

  /** The bounded hull-area aggregator as a bare aggregate Column, for
    * callers that fold it into their own groupBy alongside other aggregates
    * (e.g. [[Reachability.isochrone]]'s count + hull in one aggregation). */
  def hullAreaAgg(latCol: Column, lngCol: Column): Column =
    hullAreaUdaf(latCol, lngCol)
}
