package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Point-to-point network routing — the reference's routing surface
  * (graph/graph.go Dijkstra + api routing demos) as a set-at-a-time
  * operator: a TABLE of (origin, destination) point pairs is snapped onto
  * the network and routed in bulk, instead of one driver-side Dijkstra per
  * request.
  *
  * Semantics per pair:
  *   1. snap each endpoint to the nearest network NODE within
  *      `snapRadiusMeters` (ties break to the smaller node id;
  *      the [[MapMatch.viterbiMatchRouted]] endpoint discretization);
  *   2. route_m = network shortest-path distance between the snapped nodes
  *      (<= maxRouteMeters);
  *   3. total_m = gc(a, nodeA) + route_m + gc(nodeB, b) in that exact op
  *      order (golden-mirrored).
  * A pair with an unsnappable endpoint or no route within the cutoff keeps
  * its row with null node/route columns — requests never silently vanish.
  *
  * Scale shape: snapping is the gated [[DistanceJoin.withinDistanceJoin]]
  * kernel (covering-explode x own-cell equi-join — no all-pairs, no
  * broadcast of the pair table), then ONE multi-origin
  * [[Reachability.reachableMulti]] flood from the DISTINCT snapped origin
  * nodes — cost scales with distinct origins x reached nodes, not with the
  * request count, and the per-pair lookup is a keyed join against the
  * settled distance table. The origin collect is driver-bounded with a
  * loud failure (`maxNetworkNodes`, the bounded-network contract shared
  * with routed map matching).
  */
object Routing {

  /** @param pairs    (route_id LONG >= 0, a_lat, a_lng, b_lat, b_lng)
    * @param segments (path_id, lats, lngs, node_a, node_b) — road geometry
    *                 whose endpoints are graph nodes (Tables.gridSegments
    *                 shape)
    * @param edges    (src, dst, cost DOUBLE) the routable graph
    * @return (route_id, node_a, node_b, snap_a_m, snap_b_m, route_m,
    *         total_m), one row per input pair. */
  def routeDistance(spark: SparkSession, pairs: DataFrame, segments: DataFrame,
                    edges: DataFrame, snapRadiusMeters: Double,
                    maxRouteMeters: Double,
                    maxNetworkNodes: Int = 200000): DataFrame = {
    require(snapRadiusMeters > 0 && maxRouteMeters > 0,
      "snapRadius/maxRoute must be positive")
    import spark.implicits._
    // the snap key is route_id * 2 + side: a NEGATIVE route_id would
    // silently alias two different pairs' endpoints — enforce the scaladoc
    // contract in-plan so bad input fails loudly wherever the frame runs
    val pairsChecked = pairs.withColumn("route_id",
      when(col("route_id").cast("long") < 0,
        raise_error(concat(lit("routeDistance: route_id must be >= 0, got "),
          col("route_id").cast("string"))).cast("long"))
        .otherwise(col("route_id").cast("long")))
    val nodes = segments
      .select(col("node_a").cast("long").as("id"),
        col("lats").getItem(0).as("lat"), col("lngs").getItem(0).as("lng"))
      .unionByName(segments.select(col("node_b").cast("long").as("id"),
        element_at(col("lats"), -1).as("lat"), element_at(col("lngs"), -1).as("lng")))
      .dropDuplicates("id")
    // both endpoints ride ONE snap join, keyed (route_id * 2 + side)
    val eps = pairsChecked.select(col("route_id"),
        lit(0L).as("side"), col("a_lat").as("lat"), col("a_lng").as("lng"))
      .unionByName(pairsChecked.select(col("route_id"),
        lit(1L).as("side"), col("b_lat").as("lat"), col("b_lng").as("lng")))
      .select((col("route_id") * 2 + col("side")).as("id"), col("lat"), col("lng"))
    // nearest node: min of (dist, node) structs — lexicographic struct
    // ordering = min distance, node-id tiebreak, deterministic
    val snapped = DistanceJoin.withinDistanceJoin(eps, nodes, snapRadiusMeters)
      .groupBy(col("id_a").as("id"))
      .agg(min(struct(col("dist_m"), col("id_b"))).as("s"))
      .select(col("id"), col("s.dist_m").as("snap_m"), col("s.id_b").as("node"))
    val a = snapped.where(col("id") % 2 === 0)
      .select((col("id") / 2).cast("long").as("route_id"),
        col("node").as("node_a"), col("snap_m").as("snap_a_m"))
    val b = snapped.where(col("id") % 2 === 1)
      .select((col("id") / 2).cast("long").as("route_id"),
        col("node").as("node_b"), col("snap_m").as("snap_b_m"))
    // bounded origin collect (the MapMatch distinct+limit contract)
    val origins = a.select("node_a").distinct().limit(maxNetworkNodes + 1)
      .as[Long].collect().toSeq.sorted
    if (origins.size > maxNetworkNodes)
      throw new IllegalStateException(
        "routeDistance: MORE THAN maxNetworkNodes=" +
          s"$maxNetworkNodes distinct origin nodes (count truncated at the " +
          "bound); shard the request batch by region")
    val dist =
      if (origins.isEmpty)
        Seq.empty[(Long, Long, Double)].toDF("origin", "node", "dist")
      else Reachability.reachableMulti(spark, edges, origins, cutoff = maxRouteMeters)
    pairsChecked.select(col("route_id"))
      .join(a, Seq("route_id"), "left")
      .join(b, Seq("route_id"), "left")
      .join(dist.select(col("origin").as("node_a"), col("node").as("node_b"),
        col("dist").as("route_m")), Seq("node_a", "node_b"), "left")
      .select(col("route_id"), col("node_a"), col("node_b"),
        col("snap_a_m"), col("snap_b_m"), col("route_m"),
        (col("snap_a_m") + col("route_m") + col("snap_b_m")).as("total_m"))
  }

  /** PROJECTED (on-segment) variant of [[routeDistance]] — VERDICT r04 #3,
    * the reference's connection-insertion semantics
    * (graph/connectivity.go:561-703) as a set-at-a-time operator: each
    * endpoint snaps to the projected point on its NEAREST SEGMENT
    * (selection = min (dist, path_id) over the covering-join candidates —
    * the q_connect kernel; projection fraction via
    * [[Polyline.projectToPolylineFrac]]), and routing pays SPLIT-EDGE
    * costs: entering the network at fraction f of segment (a, b, cost c)
    * costs f*c to a and (1-f)*c to b. route_m = min over the four node
    * combos of add_a + node_dist + add_b, and — when both endpoints project
    * onto the SAME segment — the direct |f_a - f_b| * c.
    * total_m = snap_a_m + route_m + snap_b_m (great-circle snap legs).
    * Unsnappable/unroutable pairs keep their row with nulls.
    *
    * Scale shape: candidates from the sound covering equi-join
    * ([[Polyline.pathCandidates]]: level-12 cells, broadcast segment side,
    * no all-pairs), ONE multi-origin flood
    * from the <= 2x distinct-origin-segment endpoint nodes (distinct+limit
    * bounded collect, loud failure), per-pair keyed combo lookups.
    *
    * @param pairs    (route_id LONG >= 0, a_lat, a_lng, b_lat, b_lng)
    * @param segments (path_id, lats, lngs, node_a, node_b)
    * @param edges    (src, dst, cost DOUBLE) — must contain the a->b edge
    *                 of every segment (its cost is the segment's)
    * @return (route_id, path_a, path_b, frac_a, frac_b, snap_a_m, snap_b_m,
    *         route_m, total_m), one row per input pair. */
  def routeDistanceProjected(spark: SparkSession, pairs: DataFrame,
                             segments: DataFrame, edges: DataFrame,
                             snapRadiusMeters: Double, maxRouteMeters: Double,
                             maxNetworkNodes: Int = 200000): DataFrame = {
    require(snapRadiusMeters > 0 && maxRouteMeters > 0,
      "snapRadius/maxRoute must be positive")
    import spark.implicits._
    val pairsChecked = pairs.withColumn("route_id",
      when(col("route_id").cast("long") < 0,
        raise_error(concat(lit("routeDistanceProjected: route_id must be >= 0, got "),
          col("route_id").cast("string"))).cast("long"))
        .otherwise(col("route_id").cast("long")))
    // segment cost = its a->b edge's cost
    val segsCost = segments.join(
      edges.select(col("src").cast("long").as("node_a"),
        col("dst").cast("long").as("node_b"),
        col("cost").cast("double").as("seg_cost")),
      Seq("node_a", "node_b"))
    val eps = pairsChecked.select(col("route_id"), lit(0L).as("side"),
        col("a_lat").as("lat"), col("a_lng").as("lng"))
      .unionByName(pairsChecked.select(col("route_id"), lit(1L).as("side"),
        col("b_lat").as("lat"), col("b_lng").as("lng")))
      .select((col("route_id") * 2 + col("side")).as("id"), col("lat"), col("lng"))
      .withColumn("cell16",
        graft.functions.S2Expressions.s2Cell16(col("lat"), col("lng")))
    val cands = Polyline.pathCandidates(eps, segsCost, snapRadiusMeters)
    // nearest segment: struct-min (dist, path_id) — deterministic tiebreak
    val chosen = cands.groupBy(col("id"))
      .agg(min(struct(col("dist_m"), col("path_id"), col("node_a"),
        col("node_b"), col("seg_cost"))).as("s"))
      .select(col("id"), col("s.path_id").as("path_id"),
        col("s.node_a").as("na"), col("s.node_b").as("nb"),
        col("s.seg_cost").as("c"))
    val projUdf = udf((lat: Double, lng: Double,
                       lats: Seq[Double], lngs: Seq[Double]) => {
      val (_, _, d, f) =
        Polyline.projectToPolylineFrac(lat, lng, lats.toArray, lngs.toArray)
      (d, f)
    })
    val snapped = chosen
      .join(eps.select(col("id"), col("lat"), col("lng")), Seq("id"))
      .join(broadcast(segments.select(col("path_id"), col("lats"), col("lngs"))),
        Seq("path_id"))
      .withColumn("p", projUdf(col("lat"), col("lng"), col("lats"), col("lngs")))
      .select(col("id"), col("path_id"), col("na"), col("nb"), col("c"),
        col("p._1").as("snap_m"), col("p._2").as("frac"))
    val a = snapped.where(col("id") % 2 === 0)
      .select((col("id") / 2).cast("long").as("route_id"),
        col("path_id").as("path_a"), col("na").as("a_na"), col("nb").as("a_nb"),
        col("c").as("c_a"), col("snap_m").as("snap_a_m"), col("frac").as("frac_a"))
    val b = snapped.where(col("id") % 2 === 1)
      .select((col("id") / 2).cast("long").as("route_id"),
        col("path_id").as("path_b"), col("na").as("b_na"), col("nb").as("b_nb"),
        col("c").as("c_b"), col("snap_m").as("snap_b_m"), col("frac").as("frac_b"))
    // bounded origin collect (the MapMatch distinct+limit contract)
    val origins = a
      .select(explode(array(col("a_na").cast("long"), col("a_nb").cast("long"))).as("n"))
      .distinct().limit(maxNetworkNodes + 1).as[Long].collect().sorted.toSeq
    if (origins.size > maxNetworkNodes)
      throw new IllegalStateException(
        "routeDistanceProjected: MORE THAN maxNetworkNodes=" +
          s"$maxNetworkNodes distinct origin nodes (count truncated at the " +
          "bound); shard the request batch by region")
    val dist =
      if (origins.isEmpty)
        Seq.empty[(Long, Long, Double)].toDF("origin", "node", "dist")
      else Reachability.reachableMulti(spark, edges, origins, cutoff = maxRouteMeters)
    val ja = a.select(col("route_id"), explode(array(
        struct(col("a_na").cast("long").as("n"), (col("frac_a") * col("c_a")).as("add")),
        struct(col("a_nb").cast("long").as("n"),
          ((lit(1.0) - col("frac_a")) * col("c_a")).as("add")))).as("xa"))
    val jb = b.select(col("route_id"), explode(array(
        struct(col("b_na").cast("long").as("n"), (col("frac_b") * col("c_b")).as("add")),
        struct(col("b_nb").cast("long").as("n"),
          ((lit(1.0) - col("frac_b")) * col("c_b")).as("add")))).as("xb"))
    val combos = ja.join(jb, Seq("route_id"))
      .join(dist.select(col("origin").as("dn_a"), col("node").as("dn_b"),
        col("dist").as("mid")),
        col("xa.n") === col("dn_a") && col("xb.n") === col("dn_b"))
      .select(col("route_id"),
        (col("xa.add") + col("mid") + col("xb.add")).as("cand"))
    val direct = a.join(b, Seq("route_id"))
      .where(col("path_a") === col("path_b"))
      .select(col("route_id"),
        (abs(col("frac_a") - col("frac_b")) * col("c_a")).as("cand"))
    val routes = combos.unionByName(direct)
      .groupBy("route_id").agg(min(col("cand")).as("route_m"))
    pairsChecked.select(col("route_id"))
      .join(a.select(col("route_id"), col("path_a"), col("frac_a"), col("snap_a_m")),
        Seq("route_id"), "left")
      .join(b.select(col("route_id"), col("path_b"), col("frac_b"), col("snap_b_m")),
        Seq("route_id"), "left")
      .join(routes, Seq("route_id"), "left")
      .select(col("route_id"), col("path_a"), col("path_b"),
        col("frac_a"), col("frac_b"), col("snap_a_m"), col("snap_b_m"),
        col("route_m"),
        (col("snap_a_m") + col("route_m") + col("snap_b_m")).as("total_m"))
  }
}
