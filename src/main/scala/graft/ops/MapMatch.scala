package graft.ops

import graft.core.Geo
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import scala.reflect.ClassTag

/** HMM map matching: snap each user's geotagged fix sequence onto the path
  * network — the operator that turns raw GPS/EXIF points into road-aligned
  * trajectories (Newson & Krakauer, "Hidden Markov map matching through
  * noise and sparseness", GIS'09; the reference's nearest-path join,
  * api/functions/geometry.go:100-122, is the per-point special case).
  *
  * Model (the classic HMM reduced to deterministic costs — documented
  * divergences from the paper: switch cost is a CONSTANT per path change
  * rather than route-distance difference, because the fixture network has no
  * routable topology; probabilities become negative-log costs so the DP is
  * pure additions/comparisons):
  *   emission(point, path) = d² / (2σ²)    d = meters to the path
  *   transition(p → q)     = 0 if p == q else `switchCost`
  *   match = per-user Viterbi min-cost assignment over the (sec, event_id)-
  *           ordered fixes, candidates = paths within `radiusMeters`.
  * Deterministic contract: candidates iterate in path_id order and argmin is
  * strictly-less, so ties break to the SMALLEST path_id at every step; the
  * cost doubles are sums in fixed DP order (golden mirrors the op order and
  * the shared Polyline.distanceToPolylineMeters kernel bit-for-bit).
  * Fixes with NO candidate in range produce no output row (they are also
  * invisible to the DP — the chain jumps over them with the same one-step
  * transition; documented contract).
  *
  * Scale shape: candidate generation is the SOUND shared-cell equi-join of
  * [[Polyline.pathCandidates]] (the point side never shuffles for it —
  * broadcast network), then ONE groupBy-user shuffle and an in-memory DP
  * per user (one DP loop, generic over the transition cost) — the
  * Trajectory/EventStream per-user memory contract: a user's candidate rows
  * fit in MBs (fix count × candidates within radius); a pathological key
  * fails loudly (`maxCandidatesPerUser`) rather than OOMing the task.
  */
object MapMatch {

  /** One candidate of the per-user DP: a path within radius of one fix. */
  sealed trait Cand {
    def user_id: Long; def event_id: Long; def sec: Long
    def path_id: String; def dist_m: Double
  }

  /** public: Dataset encoders fail codegen on private case classes. */
  final case class CandRow(user_id: Long, event_id: Long, sec: Long,
                           path_id: String, dist_m: Double) extends Cand

  /** @param points (user_id, event_id, sec, lat, lng, cell16)
    * @param paths  (path_id, lats ARRAY<DOUBLE>, lngs ARRAY<DOUBLE>)
    * @return (user_id, event_id, path_id) one row per fix with >=1 candidate. */
  def viterbiMatch(points: DataFrame, paths: DataFrame, radiusMeters: Double,
                   sigmaMeters: Double = 50.0, switchCost: Double = 2.0,
                   maxCandidatesPerUser: Int = 2000000): DataFrame = {
    require(radiusMeters > 0 && sigmaMeters > 0 && switchCost >= 0,
      "radius/sigma must be positive, switchCost non-negative")
    import points.sparkSession.implicits._
    val cands = Polyline.pathCandidates(points, paths, radiusMeters)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("sec").cast("long"), col("path_id"), col("dist_m"))
      .as[CandRow]
    matchPerUser(cands, maxCandidatesPerUser)(viterbi(_, sigmaMeters, switchCost))
  }

  /** ONE groupBy-user shuffle, then `solve` over each user's fixes in
    * (sec, event_id) order; a user over `maxCandidatesPerUser` candidate
    * rows fails loudly instead of OOMing the task. */
  private def matchPerUser[C <: Cand : ClassTag](cands: Dataset[C],
                                                 maxCandidatesPerUser: Int)
      (solve: Array[(Long, Array[C])] => Seq[(Long, String)]): DataFrame = {
    import cands.sparkSession.implicits._
    cands.groupByKey(_.user_id).flatMapGroups { (uid: Long, it: Iterator[C]) =>
      val rows = it.toArray
      if (rows.length > maxCandidatesPerUser)
        throw new IllegalStateException(
          s"mapMatch: user $uid has ${rows.length} candidate rows > " +
            s"maxCandidatesPerUser=$maxCandidatesPerUser; shrink the radius " +
            "or raise the bound")
      val steps = rows.groupBy(r => (r.sec, r.event_id)).toArray.sortBy(_._1)
        .map { case (k, cs) => (k._2, cs) }
      solve(steps).map { case (eid, pid) => (uid, eid, pid) }.iterator
    }.toDF("user_id", "event_id", "path_id")
  }

  /** The constant-switch-cost DP: [[dp]] with transition 0 on the same path
    * and `switchCost` otherwise. */
  private[graft] def viterbi(rawSteps: Array[(Long, Array[CandRow])],
                             sigmaMeters: Double, switchCost: Double)
      : Seq[(Long, String)] =
    dp(rawSteps, sigmaMeters) { (prev, cur) => (p, j) =>
      if (prev(p).path_id == cur(j).path_id) 0.0 else switchCost
    }

  /** The per-user Viterbi DP: steps in time order; candidates are sorted
    * into path_id order HERE (the determinism anchor), and argmin is
    * strictly-less, so ties break to the smallest path_id. `transition`
    * is called once per step with (previous, current) candidates and
    * returns the cost of moving from previous index p to current index j;
    * each cell adds `cost(p) + transition`, then the emission. */
  private def dp[C <: Cand](rawSteps: Array[(Long, Array[C])], sigmaMeters: Double)
      (transition: (Array[C], Array[C]) => (Int, Int) => Double)
      : Seq[(Long, String)] = {
    val steps = rawSteps.map { case (eid, cs) => (eid, cs.sortBy(_.path_id)) }
    if (steps.isEmpty) return Nil
    def emit(d: Double): Double = (d * d) / (2.0 * sigmaMeters * sigmaMeters)
    var cost = steps(0)._2.map(c => emit(c.dist_m))
    val back = new Array[Array[Int]](steps.length)
    var i = 1
    while (i < steps.length) {
      val cur = steps(i)._2
      val prev = steps(i - 1)._2
      val trans = transition(prev, cur)
      val nc = new Array[Double](cur.length)
      val nb = new Array[Int](cur.length)
      var j = 0
      while (j < cur.length) {
        var best = Double.MaxValue; var bestP = -1
        var p = 0
        while (p < prev.length) {
          val t = cost(p) + trans(p, j)
          if (t < best) { best = t; bestP = p }
          p += 1
        }
        nc(j) = best + emit(cur(j).dist_m)
        nb(j) = bestP
        j += 1
      }
      back(i) = nb
      cost = nc
      i += 1
    }
    // final argmin, then walk the pointers back
    var best = 0
    var j = 1
    while (j < cost.length) { if (cost(j) < cost(best)) best = j; j += 1 }
    val out = new Array[(Long, String)](steps.length)
    var k = steps.length - 1
    var cur = best
    while (k >= 0) {
      out(k) = (steps(k)._1, steps(k)._2(cur).path_id)
      if (k > 0) cur = back(k)(cur)
      k -= 1
    }
    out.toSeq
  }

  // =====================================================================
  // ROUTED transitions — the full Newson-Krakauer model (VERDICT r03 #3):
  // transition cost = |route_distance - great_circle| / beta instead of the
  // constant switch cost, with route distances from the engine's own
  // Reachability shortest paths over a routable network.
  // =====================================================================

  /** public: Dataset encoders fail codegen on private case classes. */
  final case class RoutedCand(user_id: Long, event_id: Long, sec: Long,
                              lat: Double, lng: Double,
                              path_id: String, dist_m: Double,
                              node_a: Long, node_b: Long,
                              a_lat: Double, a_lng: Double,
                              b_lat: Double, b_lng: Double) extends Cand

  /** HMM map matching with ROUTE-DISTANCE transitions (Newson & Krakauer
    * GIS'09 §transition): for consecutive fixes a -> b matched to segments
    * p -> q,
    *
    *   transition(p, q) = 0                         if p == q
    *                    = |route(p, q) - gc(a, b)| / beta   otherwise
    *   route(p, q) = min over x in {pA, pB}, y in {qA, qB} of
    *                   gc(a, x) + D(x, y) + gc(y, b)
    *
    * where D is the network shortest-path distance ([[Reachability]]'s
    * min-plus flood — the reference's Dijkstra role, graph/graph.go:258-541)
    * and gc the shared haversine kernel. Documented discretization vs the
    * paper: route endpoints are the candidate SEGMENT's graph nodes rather
    * than the projected position along it (segments are short relative to
    * sigma, and the fix->node great-circle legs absorb the within-segment
    * offset); a pair with NO route within `maxRouteMeters` gets route =
    * 2*maxRouteMeters — a finite, deterministic "don't teleport across
    * disconnected roads" penalty (RoutedMatchSpec pins that it beats the
    * constant-cost model exactly there). Determinism: the 4 endpoint combos
    * scan in fixed (aa, ab, ba, bb) order with strictly-less min, candidates
    * sort by path_id, argmin is strictly-less — the golden mirrors each.
    *
    * Scale shape: the node-to-node distance table is a per-NETWORK
    * precompute (standard for HMM matching: one bounded-radius one-to-many
    * flood per node), evaluated here as ONE [[Reachability.reachableMulti]]
    * call and broadcast to the DP — both driver-bounded with LOUD failures
    * (`maxNetworkNodes`, `maxDistTableRows`: each collect is limited to the
    * bound + 1 rows); a planetary network pre-shards by region and
    * materializes the table once, not per query. Candidate generation and
    * the per-user DP are [[viterbiMatch]]'s: sound covering equi-join, one
    * groupBy-user shuffle, the same DP loop with the routed transition
    * (its fix-to-fix great circle computed once per step).
    *
    * @param points   (user_id, event_id, sec, lat, lng, cell16)
    * @param segments (path_id, lats ARRAY<DOUBLE>, lngs ARRAY<DOUBLE>,
    *                 node_a LONG, node_b LONG) — road geometry whose
    *                 endpoints are graph nodes
    * @param edges    (src LONG, dst LONG, cost DOUBLE) the routable graph
    * @return (user_id, event_id, path_id) one row per fix with >=1 candidate. */
  def viterbiMatchRouted(points: DataFrame, segments: DataFrame, edges: DataFrame,
                         radiusMeters: Double, maxRouteMeters: Double,
                         sigmaMeters: Double = 50.0, betaMeters: Double = 200.0,
                         maxCandidatesPerUser: Int = 2000000,
                         maxNetworkNodes: Int = 200000,
                         maxDistTableRows: Int = 5000000): DataFrame = {
    require(radiusMeters > 0 && sigmaMeters > 0 && betaMeters > 0 &&
      maxRouteMeters > 0, "radius/sigma/beta/maxRoute must be positive")
    val spark = points.sparkSession
    import spark.implicits._
    // network nodes — the COLLECT ITSELF is bounded (distinct + limit to
    // bound+1 BEFORE collecting): a table far over the bound must hit the
    // loud failure below, not a driver OOM inside the collect
    val origins = segments
      .select(explode(array(col("node_a").cast("long"),
        col("node_b").cast("long"))).as("n"))
      .distinct().limit(maxNetworkNodes + 1)
      .as[Long].collect().sorted.toSeq
    if (origins.size > maxNetworkNodes)
      throw new IllegalStateException(
        s"viterbiMatchRouted: network has MORE THAN maxNetworkNodes=" +
          s"$maxNetworkNodes nodes (count truncated at the bound); pre-shard " +
          "the network by region or raise the bound")
    // the per-network distance precompute: one multi-origin bounded flood,
    // collected under the same bound+1 limit
    val distRows = Reachability.reachableMulti(spark, edges, origins,
        cutoff = maxRouteMeters)
      .select(col("origin").cast("long"), col("node").cast("long"),
        col("dist").cast("double"))
      .limit(maxDistTableRows + 1).as[(Long, Long, Double)].collect()
    if (distRows.length > maxDistTableRows)
      throw new IllegalStateException(
        s"viterbiMatchRouted: distance table has MORE THAN maxDistTableRows=" +
          s"$maxDistTableRows rows (count truncated at the bound; " +
          s"maxRouteMeters=$maxRouteMeters reaches too much of the network); " +
          "shrink the route cutoff or pre-shard the network")
    val distB = spark.sparkContext.broadcast(
      distRows.iterator.map { case (o, n, d) => ((o, n), d) }.toMap)
    // endpoint coordinates ride the candidate join as plain columns (the
    // covering join drops only lats/lngs/pcell)
    val segs = segments
      .withColumn("a_lat", col("lats").getItem(0))
      .withColumn("a_lng", col("lngs").getItem(0))
      .withColumn("b_lat", element_at(col("lats"), -1))
      .withColumn("b_lng", element_at(col("lngs"), -1))
    val cands = Polyline.pathCandidates(points, segs, radiusMeters)
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("sec").cast("long"), col("lat").cast("double"),
        col("lng").cast("double"), col("path_id"), col("dist_m"),
        col("node_a").cast("long"), col("node_b").cast("long"),
        col("a_lat").cast("double"), col("a_lng").cast("double"),
        col("b_lat").cast("double"), col("b_lng").cast("double"))
      .as[RoutedCand]
    matchPerUser(cands, maxCandidatesPerUser) { steps =>
      val dist = distB.value
      dp(steps, sigmaMeters) { (prev, cur) =>
        // all candidates of a step share the fix's coordinates
        val gc = Geo.haversineMeters(prev(0).lat, prev(0).lng, cur(0).lat, cur(0).lng)
        (p, j) => routedTransition(prev(p), cur(j), gc, betaMeters, maxRouteMeters, dist)
      }
    }
  }

  /** |route(p, q) - gc| / beta per the [[viterbiMatchRouted]] contract: the
    * 4 endpoint combos scan in fixed (aa, ab, ba, bb) order with
    * strictly-less min; no route within the cutoff costs 2*maxRouteMeters
    * (golden-mirrored). */
  private def routedTransition(p: RoutedCand, q: RoutedCand, gc: Double,
                               betaMeters: Double, maxRouteMeters: Double,
                               dist: Map[(Long, Long), Double]): Double = {
    if (p.path_id == q.path_id) return 0.0
    var route = Double.PositiveInfinity
    var xi = 0
    while (xi < 2) {
      val xid = if (xi == 0) p.node_a else p.node_b
      val xLat = if (xi == 0) p.a_lat else p.b_lat
      val xLng = if (xi == 0) p.a_lng else p.b_lng
      var yi = 0
      while (yi < 2) {
        val yid = if (yi == 0) q.node_a else q.node_b
        val yLat = if (yi == 0) q.a_lat else q.b_lat
        val yLng = if (yi == 0) q.a_lng else q.b_lng
        val mid = if (xid == yid) 0.0 else dist.getOrElse((xid, yid), Double.NaN)
        if (!mid.isNaN) {
          val r = Geo.haversineMeters(p.lat, p.lng, xLat, xLng) + mid +
            Geo.haversineMeters(yLat, yLng, q.lat, q.lng)
          if (r < route) route = r
        }
        yi += 1
      }
      xi += 1
    }
    if (route.isInfinity) route = 2.0 * maxRouteMeters
    math.abs(route - gc) / betaMeters
  }
}
