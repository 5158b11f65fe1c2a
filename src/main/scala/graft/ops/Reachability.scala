package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph reachability — b6's `reachable` family (SURVEY.md §2.4;
  * Dijkstra flood /root/reference/src/diagonal.works/b6/graph/graph.go:258-541)
  * re-expressed as Pregel-style frontier expansion over an edge DataFrame:
  *
  *   frontier_{i+1} = min_dist( frontier_i JOIN edges ON src ) under cutoff
  *
  * Each round is one distributed join + aggregation, merged with the
  * distance table in the same aggregate and job; bounded-radius queries
  * converge in ~10-30 rounds (SURVEY.md §2.4), plus the round that improves
  * nothing and so confirms the fixpoint. The distance table accumulates
  * the per-node minimum. Deterministic: pure min-plus algebra, no
  * tie-dependent state.
  *
  * Scale notes: edges should be pre-partitioned by `src` so the iterated
  * join co-locates (at design scale: bucketed Iceberg table); the frontier
  * is usually small — broadcast it when it fits. Every round is ONE
  * snapshot job (Tracker.rounds): without lineage truncation the plan (and
  * Catalyst's planning time) grows with the iteration count — the classic
  * iterative-Spark trap; intermediates are released when the call returns
  * (only the result stays persisted).
  */
object Reachability {

  // private bounds of pathsToReach's climb: 64 pending hop rounds plus the
  // confirming one (Tracker.rounds), and the pred-map size up to which the
  // climb broadcasts it
  private val ClimbRounds = 64
  private val BroadcastNodeLimit = 5000000L

  /** The shared min-plus fixpoint: `init` carries `keyCols :+ "dist"` where
    * the last key column is the frontier node. Each round is ONE snapshot:
    * the frontier's expansion and the settled table in one keyed min
    * aggregate, keeping the `least` distance and flagging `improved` rows
    * (new, or strictly shorter); the snapshot counts them, and the next
    * frontier is a lazy filter of it. (A union, not a full outer join: the
    * join's coalesced keys would turn a non-null `origin` nullable.) The
    * round that improves nothing confirms the fixpoint, so a run settling in
    * EXACTLY maxIters improving rounds is accepted and one still improving
    * after them throws — the downstream consumers (pathsToReach pred
    * derivation, closest argmin) must never see unsettled distances.
    * Returns the settled snapshot. */
  private def flood(t: Tracker, edges: DataFrame, init: DataFrame,
                    keyCols: Seq[String], cutoff: Double, maxIters: Int): Tracker.Snap = {
    val e = t.cache(edges.select(col("src"), col("dst"), col("cost").cast("double")))
    val carry = keyCols.filterNot(_ == "node")
    val distCols = keyCols.map(col) :+ col("dist")
    var dist = init
    var frontier = init
    var settled: Tracker.Snap = null
    Tracker.rounds(init.sparkSession, "flood", maxIters) { _ =>
      val expanded = frontier
        .withColumnRenamed("node", "fnode").withColumnRenamed("dist", "fdist")
        .join(e, col("fnode") === col("src"))
        .select(carry.map(col) ++ Seq(col("dst").as("node"),
          (col("fdist") + col("cost")).as("xdist"), lit(null).cast("double").as("dist")): _*)
        .where(col("xdist") <= cutoff)
      val merged = expanded
        .unionByName(dist.withColumn("xdist", lit(null).cast("double")))
        .groupBy(keyCols.map(col): _*)
        .agg(min("xdist").as("xdist"), min("dist").as("dist"))
        .select(keyCols.map(col) ++ Seq(least(col("xdist"), col("dist")).as("dist"),
          (col("xdist").isNotNull &&
            (col("dist").isNull || col("xdist") < col("dist"))).as("improved")): _*)
      val improvedIdx = keyCols.size + 1
      settled = t.snapshot(merged, _.getBoolean(improvedIdx))
      dist = settled.df.select(distCols: _*)
      frontier = settled.df.where(col("improved")).select(distCols: _*)
      settled.matched
    }
    settled.copy(df = dist)
  }

  /** All nodes within `cutoff` cost of the origin set.
    * @param edges (src LONG, dst LONG, cost DOUBLE) directed; undirected
    *              graphs pass both directions.
    * @return (node LONG, dist DOUBLE) minimal cost per reached node. */
  def reachable(spark: SparkSession, edges: DataFrame, origins: Seq[Long],
                cutoff: Double, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val init = origins.distinct.map(o => (o, 0.0)).toDF("node", "dist")
    Tracker.run(spark)(flood(_, edges, init, Seq("node"), cutoff, maxIters))
  }

  /** Per-origin distances: same min-plus loop keyed by (origin, node) —
    * the substrate for `closest` and `building-access`.
    * @return (origin LONG, node LONG, dist DOUBLE). */
  def reachableMulti(spark: SparkSession, edges: DataFrame, origins: Seq[Long],
                     cutoff: Double, maxIters: Int = 50): DataFrame = {
    import spark.implicits._
    val init = origins.distinct.map(o => (o, o, 0.0)).toDF("origin", "node", "dist")
    Tracker.run(spark)(flood(_, edges, init, Seq("origin", "node"), cutoff, maxIters))
  }

  /** `connect` (reference api/functions/graph.go:218-239: add a path
    * between two points as a Change): the edge-table delta — append both
    * directed rows; evaluate any reachability query over the union for
    * with-change semantics. */
  def connect(edges: DataFrame, src: Long, dst: Long, cost: Double): DataFrame = {
    import edges.sparkSession.implicits._
    edges.unionByName(
      Seq((src, dst, cost), (dst, src, cost)).toDF("src", "dst", "cost"))
  }

  /** Network-distance `closest` / `closest-distance` (SURVEY.md §2.4;
    * reference api/functions/graph.go:106-153 floods to the cutoff then
    * takes the matching feature of minimal distance): per origin, the target
    * node of minimal network distance, ties broken by node id.
    * @param targets (node LONG) the "query" side (e.g. tagged features).
    * @return (origin, node, dist) one row per origin that reaches >=1
    *         target. */
  def closest(spark: SparkSession, edges: DataFrame, origins: Seq[Long],
              targets: DataFrame, cutoff: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    reachableMulti(spark, edges, origins, cutoff)
      .join(targets.select(col("node")), Seq("node"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("origin").orderBy(col("dist"), col("node"))))
      .where(col("rn") === 1)
      .select(col("origin"), col("node"), col("dist"))
  }

  /** `building-access` (reference api/functions/access.go:9-43: which
    * "buildings" each origin can reach within the cutoff): per-origin flood
    * joined against the building->node table, minimal distance per
    * (origin, building).
    * @param buildings (node LONG, building_id LONG).
    * @return (origin, building_id, dist). */
  def buildingAccess(spark: SparkSession, edges: DataFrame, origins: Seq[Long],
                     buildings: DataFrame, cutoff: Double): DataFrame =
    reachableMulti(spark, edges, origins, cutoff)
      .join(buildings, Seq("node"))
      .groupBy("origin", "building_id").agg(min("dist").as("dist"))

  /** Isochrone / catchment polygon — the composition b6's accessibility
    * demos run (flood to a cost cutoff, then `reachable-area` over the
    * reached features: api/functions/graph.go:106-153 + 202-216): per
    * origin, the convex-hull area of every reached node that has a
    * location, plus the reached-with-location count.
    *
    * Scale shape: the flood is the shared min-plus fixpoint (lineage-
    * truncated); the hull runs through the BOUNDED compacting aggregator
    * (partial aggregation, 256-point buffers), so a metro-sized catchment
    * with 10^8 reached nodes never collects per group. One aggregation
    * computes count and hull together — no second shuffle.
    *
    * @param coords (node LONG, lat, lng); reached nodes absent from it are
    *               excluded from BOTH the count and the hull (inner join).
    * @return (origin, n_nodes LONG, hull_area_m2 DOUBLE). */
  def isochrone(spark: SparkSession, edges: DataFrame, origins: Seq[Long],
                cutoff: Double, coords: DataFrame): DataFrame =
    reachableMulti(spark, edges, origins, cutoff)
      .join(coords.select(col("node"), col("lat"), col("lng")), Seq("node"))
      .groupBy("origin")
      .agg(count(lit(1)).as("n_nodes"),
        Geometry.hullAreaAgg(col("lat"), col("lng")).as("hull_area_m2"))

  /** `paths-to-reach` (reference api/functions/graph.go:155-200: for every
    * reached node, walk its shortest path back to the origin and count each
    * edge's usage): re-expressed distributed —
    *
    *   1. settled distances from one origin (min-plus fixpoint);
    *   2. deterministic shortest-path tree: pred(v) = the edge (u,v) with
    *      dist(u) + cost == dist(v), ties -> min u (exact double equality
    *      holds at the fixpoint because dist(v) IS one of those sums);
    *   3. edge usage by iterative climb: each node contributes one use to
    *      every tree edge on its path — `depth` rounds of joining the
    *      climbing frontier with the (broadcastable) pred map.
    *
    * @return (src, dst, uses LONG) tree edges with their usage counts. */
  def pathsToReach(spark: SparkSession, edges: DataFrame, origin: Long,
                   cutoff: Double): DataFrame = {
    import spark.implicits._
    Tracker.run(spark) { t =>
      val e = edges.select(col("src"), col("dst"), col("cost").cast("double"))
      val dist = flood(t, edges, Seq((origin, 0.0)).toDF("node", "dist"),
        Seq("node"), cutoff, 50).df
      // pred(v): min src among edges attaining dist(v) = dist(src) + cost
      val pred = t.snapshot(
        dist.select(col("node").as("dst"), col("dist").as("ddst"))
          .where(col("dst") =!= origin)
          .join(e, Seq("dst"))
          .join(dist.select(col("node").as("src"), col("dist").as("dsrc")), Seq("src"))
          .where(col("dsrc") + col("cost") === col("ddst"))
          .groupBy("dst").agg(min("src").as("pred")))
      // pred has one row per reached node — data-sized for a large cutoff on
      // a big graph. Broadcast it only while it fits (the count is free from
      // the snapshot); beyond the limit the climb joins shuffle-hash, which
      // repartitions the (same-sized) frontier instead of pushing a
      // multi-GB broadcast to every executor each hop (r03c audit).
      val predSide =
        if (pred.rows <= BroadcastNodeLimit) broadcast(pred.df) else pred.df.hint("shuffle_hash")
      // climb: frontier (leaf = every non-origin node, cur); one use per hop.
      // Each hop is ONE snapshot counting the rows still below the origin;
      // the next frontier is a lazy projection of it. A tree deeper than
      // the bound fails loudly: capping the climb would undercount uses.
      var frontier = dist.where(col("node") =!= origin)
        .select(col("node").as("leaf"), col("node").as("cur"))
      val hops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      Tracker.rounds(spark, "pathsToReach", ClimbRounds) { _ =>
        val hop = t.snapshot(
          frontier.join(predSide, frontier("cur") === pred.df("dst"))
            .select(col("leaf"), col("pred"), col("cur")),
          _.getLong(1) != origin)
        hops += hop.df.groupBy(col("pred").as("src"), col("cur").as("dst"))
          .agg(count(lit(1)).as("uses"))
        frontier = hop.df.where(col("pred") =!= origin)
          .select(col("leaf"), col("pred").as("cur"))
        hop.matched
      }
      t.snapshot(hops.reduce(_ unionByName _)
        .groupBy("src", "dst").agg(sum("uses").as("uses")))
    }
  }
}
