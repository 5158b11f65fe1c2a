package graft.ops

import graft.core.Geo
import graft.functions.S2Expressions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stay-point detection over per-user trajectories — the classic dwell
  * extractor (Li et al., "Mining user similarity based on location history",
  * GIS'08; the GeoLife preprocessing step): a maximal run of consecutive
  * points all within `radiusMeters` of the run's FIRST point (the anchor)
  * whose time span reaches `minDurationSeconds` becomes one stay point.
  * The reference's graph/containment operators consume places; this is the
  * operator that turns raw geotagged event streams INTO places — and for an
  * image corpus, "the photographer stood here for an hour" is the burst
  * grouping a dedup/diversity pass keys on.
  *
  * Greedy anchor-scan semantics (deterministic — the published algorithm,
  * with the total order pinned to (sec, event_id)):
  *   i = 0; while i < n:
  *     grow j while dist(p_i, p_j) <= r;
  *     if sec_{j-1} - sec_i >= minDur: emit [i, j); i = j   else i += 1
  * Emitted columns: (user_id, start_s, end_s, n_points, c_lat, c_lng) with
  * the centroid the arithmetic mean in scan order (bit-deterministic).
  *
  * Scale shape (the 100 TB contract): ONE groupBy-user shuffle, then a
  * single in-memory pass per user — the `EventStream.sessionize` memory
  * contract: a user's points for the pass are sorted in memory (the scan
  * needs random access back to the anchor, so it is not windowable with
  * O(1) state). Trajectories are human-scale (years of events fit in MBs);
  * a pathological key OOMs the task loudly rather than silently spilling
  * wrong answers.
  */
object Trajectory {

  final case class TrajPoint(user_id: Long, event_id: Long, sec: Long,
                             lat: Double, lng: Double)
  final case class StayPoint(user_id: Long, start_s: Long, end_s: Long,
                             n_points: Int, c_lat: Double, c_lng: Double)

  /** q_staypoints gate: 100 m dwell radius, 1-day minimum duration over the
    * 2-day-block synthetic trajectories (Synth.trajLat/trajLng). */
  val GateRadiusMeters = 100.0
  val GateMinDurationSeconds = 86400L

  /** Input: (user_id LONG, event_id LONG, sec LONG, lat, lng DOUBLE). */
  def stayPoints(points: DataFrame, radiusMeters: Double,
                 minDurationSeconds: Long): DataFrame = {
    require(radiusMeters > 0 && minDurationSeconds > 0,
      "radius and duration must be positive")
    import points.sparkSession.implicits._
    val ds = points.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("sec").cast("long"), col("lat").cast("double"), col("lng").cast("double"))
      .as[TrajPoint]
    ds.groupByKey(_.user_id).flatMapGroups { (uid: Long, it: Iterator[TrajPoint]) =>
      val pts = it.toArray.sortBy(p => (p.sec, p.event_id))
      scan(uid, pts, radiusMeters, minDurationSeconds).iterator
    }.toDF()
  }

  final case class TrackStats(user_id: Long, n_points: Long, total_m: Double,
                              max_leg_m: Double, net_m: Double)

  /** Per-user odometer over the (sec, event_id)-ordered trajectory: leg
    * count+1, total great-circle track length, longest single leg, and net
    * displacement (first->last) — the trip-level summary a travel/diversity
    * analysis keys on (e.g. "stationary user vs world traveler" strata).
    * Same ONE-shuffle groupBy-user + sorted single pass as [[stayPoints]];
    * the float sums accumulate in scan order, so results are
    * bit-deterministic under any partitioning (the golden sums in the same
    * order with the shared kernel). */
  def trackStats(points: DataFrame): DataFrame = {
    import points.sparkSession.implicits._
    val ds = points.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("sec").cast("long"), col("lat").cast("double"), col("lng").cast("double"))
      .as[TrajPoint]
    ds.groupByKey(_.user_id).mapGroups { (uid: Long, it: Iterator[TrajPoint]) =>
      val pts = it.toArray.sortBy(p => (p.sec, p.event_id))
      var total = 0.0; var maxLeg = 0.0
      var i = 1
      while (i < pts.length) {
        val leg = Geo.haversineMeters(pts(i - 1).lat, pts(i - 1).lng,
          pts(i).lat, pts(i).lng)
        total += leg
        if (leg > maxLeg) maxLeg = leg
        i += 1
      }
      val net =
        if (pts.length < 2) 0.0
        else Geo.haversineMeters(pts(0).lat, pts(0).lng,
          pts(pts.length - 1).lat, pts(pts.length - 1).lng)
      TrackStats(uid, pts.length.toLong, total, maxLeg, net)
    }.toDF()
  }

  final case class Leg(user_id: Long, event_id: Long, sec: Long, dt_s: Long,
                       dist_m: Double, speed_mps: Option[Double],
                       bearing_deg: Double, turn_deg: Option[Double])

  /** Per-leg trajectory enrichment: every consecutive-fix pair of a user's
    * (sec, event_id)-ordered trajectory becomes one leg carrying duration,
    * great-circle length, speed, initial bearing, and the signed turn angle
    * vs the previous leg — the kinematic features a mobility/quality
    * pipeline filters on (teleporting EXIF timestamps = impossible speeds;
    * burst pans = tight turn sequences). Leg rows key on the leg's END fix.
    *
    * Same ONE-shuffle groupBy-user + sorted scan as [[trackStats]]. Float
    * policy: dist/bearing are the shared kernels (Geo.haversineMeters /
    * Geo.initialBearingDeg); speed = dist_m / dt_s (NULL when dt_s == 0 —
    * tied timestamps, rather than an Infinity that DuckDB would render
    * differently); turn = bearing - prev_bearing normalized into (-180, 180]
    * by exact CASE adds (no float modulo — Java and C fmod disagree on
    * negatives), NULL for each user's first leg. */
  def legs(points: DataFrame): DataFrame = {
    import points.sparkSession.implicits._
    val ds = points.select(col("user_id").cast("long"), col("event_id").cast("long"),
      col("sec").cast("long"), col("lat").cast("double"), col("lng").cast("double"))
      .as[TrajPoint]
    ds.groupByKey(_.user_id).flatMapGroups { (uid: Long, it: Iterator[TrajPoint]) =>
      val pts = it.toArray.sortBy(p => (p.sec, p.event_id))
      val out = new Array[Leg](math.max(0, pts.length - 1))
      var prevBearing = Double.NaN
      var i = 1
      while (i < pts.length) {
        val a = pts(i - 1); val b = pts(i)
        val dist = Geo.haversineMeters(a.lat, a.lng, b.lat, b.lng)
        val brg = Geo.initialBearingDeg(a.lat, a.lng, b.lat, b.lng)
        val dt = b.sec - a.sec
        val speed = if (dt > 0) Some(dist / dt.toDouble) else None
        val turn =
          if (i == 1) None
          else {
            val d = brg - prevBearing
            Some(if (d > 180.0) d - 360.0 else if (d <= -180.0) d + 360.0 else d)
          }
        out(i - 1) = Leg(uid, b.event_id, b.sec, dt, dist, speed, brg, turn)
        prevBearing = brg
        i += 1
      }
      out.iterator
    }.toDF()
  }

  /** Origin→destination flow matrix between map tiles: consecutive fixes of
    * each user's (sec, event_id)-ordered trajectory that CHANGE tile at
    * `zoom` become one directed (from, to) movement; flows aggregate the
    * movement count and the distinct movers — the OD matrix every
    * mobility/urban-analytics stack derives from raw geotagged streams
    * (and, for an image corpus, "photographers moving tile A → tile B", the
    * geographic-diversity signal a sampler can rebalance on).
    *
    * Scale shape: tile assignment is the same native codegen expression as
    * the tile manifests (no shuffle), then ONE window shuffle keyed by user
    * (lag over the per-user sort — users are independent, so the window
    * never sees a global sort) and ONE aggregation shuffle keyed by the
    * (from, to) tile pair with map-side partial counts. Same-tile dwells are
    * dropped BEFORE the aggregation, so the shuffle carries only genuine
    * movements. */
  def odMatrix(points: DataFrame, zoom: Int): DataFrame = {
    require(zoom >= 1 && zoom <= 15, s"zoom $zoom outside [1, 15]")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val (_, x, y) = S2Expressions.tileXYZ(col("tid"))
    points
      .withColumn("tid", element_at(
        S2Expressions.tileChain(col("lat"), col("lng"), zoom, zoom), 1))
      .select(col("user_id"), col("sec"), col("event_id"), x.as("x"), y.as("y"))
      .withColumn("from_x", lag("x", 1).over(w))
      .withColumn("from_y", lag("y", 1).over(w))
      .where(col("from_x").isNotNull &&
        (col("from_x") =!= col("x") || col("from_y") =!= col("y")))
      .groupBy(col("from_x"), col("from_y"), col("x").as("to_x"), col("y").as("to_y"))
      .agg(count(lit(1)).as("n_moves"), countDistinct(col("user_id")).as("n_users"))
  }

  /** The greedy anchor scan over one user's (sec, event_id)-sorted points. */
  private[graft] def scan(uid: Long, pts: Array[TrajPoint], r: Double,
                          minDur: Long): Seq[StayPoint] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[StayPoint]
    var i = 0
    while (i < pts.length) {
      var j = i + 1
      while (j < pts.length &&
        Geo.haversineMeters(pts(i).lat, pts(i).lng, pts(j).lat, pts(j).lng) <= r) j += 1
      if (j - i > 1 && pts(j - 1).sec - pts(i).sec >= minDur) {
        val n = j - i
        var sl = 0.0; var sg = 0.0
        var k = i
        while (k < j) { sl += pts(k).lat; sg += pts(k).lng; k += 1 }
        out += StayPoint(uid, pts(i).sec, pts(j - 1).sec, n, sl / n, sg / n)
        i = j
      } else i += 1
    }
    out.toSeq
  }
}
