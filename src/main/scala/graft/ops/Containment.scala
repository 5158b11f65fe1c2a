package graft.ops

import graft.core.S2
import graft.functions.S2Expressions
import graft.model.Synth.Region
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

/** Point-in-polygon containment join — the canonical cell-pruned prune+refine
  * join of the north star (SURVEY.md §2.4, b6 `containing-areas`,
  * /root/reference/src/diagonal.works/b6/api/functions/features.go:95-135).
  *
  * `containmentJoin` picks one of two routes from ONE aggregate over the
  * REGION side (`chooseStrategy`; the image side, 10^12 rows at design
  * scale, is never scanned before the join):
  *   - probe (the common case — polygon sets are tiny next to the images):
  *     when the exploded covering with its ring payload fits 8 MB, the
  *     regions are collected and every image runs ONE map-side probe of a
  *     driver-built `ProbeIndex` (`containmentProbe`) — b6's per-point
  *     index probe. No join node, no shuffle of the image side.
  *   - shuffle: over budget, regions explode their mixed-level S2 covering
  *     (MaxLevel 16/MaxCells 5, search/spatial.go:30-32) into (cell, region)
  *     rows, images explode their level-16 cell's ancestors at ONLY the
  *     covering's levels, and the two sides meet in a shuffle-hash equi-join
  *     on the cell. When a covering cell is at level 9 or coarser, both
  *     sides are salted 8 ways: such a cell funnels a continent-scale image
  *     population through one hash key (AQE skew-join also stays on).
  * Both routes refine with the exact ray cast (features.go:46-56 semantics),
  * so results are covering- and route-independent (SURVEY.md §7.4). Covering
  * cells of one region are disjoint, so an image matches a region through
  * at most one covering cell — no post-join dedupe needed.
  */
object Containment {

  private val BroadcastBytesLimit = 8L << 20
  private val CoarseLevelMax = 9
  private val SaltBuckets = 8
  private val Hex7ImageRes = 9

  private val levelOf = udf((c: Long) => S2.level(c))

  /** @param images  point side; must carry image_id, lat, lng, cell16.
    *                Project heavy payload columns away before calling.
    * @param regions polygon side: region_id, rings_lat, rings_lng, cells
    *                (covering levels <= 16). */
  def containmentJoin(images: DataFrame, regions: DataFrame): DataFrame =
    joinBy(images, regions)

  /** The join on the route `chooseStrategy` picks with these parameters.
    * Gates and specs force a shuffle route through them
    * (`broadcastBytesLimit = 0L`; `coarseLevelMax` sets the salting). */
  private[graft] def joinBy(images: DataFrame, regions: DataFrame,
                            broadcastBytesLimit: Long = BroadcastBytesLimit,
                            coarseLevelMax: Int = CoarseLevelMax): DataFrame = {
    val c = chooseStrategy(regions, broadcastBytesLimit, coarseLevelMax)
    if (c.broadcast) containmentProbe(images, collectRegions(regions))
    else shuffleJoin(images, regions, c)
  }

  /** Bounded: called only once the stats aggregate has shown that the
    * regions with a covering fit the budget. A region without covering
    * cells matches on no route, and the estimate does not count it, so it
    * is not collected; a null ring array reads as no rings. */
  private def collectRegions(regions: DataFrame): Array[Region] = {
    val rows = regions.where(size(col("cells")) > 0)
      .agg(collect_list(struct("region_id", "rings_lat", "rings_lng", "cells")))
      .collect()
    def rings(r: Row, i: Int): Seq[Array[Double]] =
      if (r.isNullAt(i)) Nil else r.getSeq[collection.Seq[Double]](i).map(_.toArray).toSeq
    rows.head.getSeq[Row](0).map { r =>
      Region(r.getString(0), "", "", rings(r, 1).zip(rings(r, 2)).toArray,
        r.getSeq[Long](3).toArray)
    }.toArray
  }

  private def shuffleJoin(images: DataFrame, regions: DataFrame,
                          c: ContainmentChoice): DataFrame = {
    val regionCells = regions.select(
      col("region_id"), col("rings_lat"), col("rings_lng"),
      explode(col("cells")).as("rcell"))
    // native codegen ancestors (no ScalaUDF round-trip on the big side)
    val probes = images.withColumn("anc", explode(
      S2Expressions.s2Ancestors(col("cell16"), c.levels.toArray)))
    val joined =
      if (c.saltBuckets > 1) {
        val salted = probes.withColumn("salt",
          pmod(xxhash64(col("image_id")), lit(c.saltBuckets)).cast("int"))
        val replicated = regionCells.withColumn("salt",
          explode(lit((0 until c.saltBuckets).toArray)))
        salted.join(replicated,
          col("anc") === col("rcell") && salted("salt") === replicated("salt"))
      } else
        probes.join(regionCells.hint("shuffle_hash"), col("anc") === col("rcell"))
    joined
      .where(S2Expressions.containsRings(
        col("lat"), col("lng"), col("rings_lat"), col("rings_lng")))
      .select(images.columns.toSeq.map(col) :+ col("region_id"): _*)
  }

  /** The route decision, from ONE aggregate over the region side.
    *
    * @param broadcast         the covering estimate fits the budget: probe
    * @param saltBuckets       > 0 only on the shuffle route when the covering
    *                          contains a COARSE cell (level <= coarseLevelMax)
    * @param estBroadcastBytes estimated exploded-covering payload: per
    *                          covering row, the 24-byte (cell, id) core plus
    *                          the region's full ring geometry (16 B per
    *                          vertex) — an upper bound on what the probe
    *                          route collects, which holds each ring once
    * @param minCoverLevel     coarsest S2 level present in any covering
    * @param levels            ALL distinct covering levels, sorted: the
    *                          shuffle route's ancestor levels */
  private[graft] final case class ContainmentChoice(
      broadcast: Boolean, saltBuckets: Int, estBroadcastBytes: Long,
      minCoverLevel: Int, levels: Seq[Int])

  /** Pick probe vs shuffle-hash vs salted-shuffle from the materialized
    * coverings (the sorted Long arrays in `cells`). Catalyst cannot make
    * this call itself: the cost lives in the EXPLODED covering (cells x
    * rings), which the optimizer's pre-explosion row stats do not see.
    * Rejects a covering cell finer than level 16: images probe by their
    * level-16 cell, whose "ancestor" at level 17+ is a fixed child, so such
    * a covering would silently lose matches. */
  private[graft] def chooseStrategy(regions: DataFrame,
                                    broadcastBytesLimit: Long = BroadcastBytesLimit,
                                    coarseLevelMax: Int = CoarseLevelMax): ContainmentChoice = {
    val row = regions.select(
        col("region_id"),
        // each exploded row carries the region's full ring payload
        (coalesce(expr("aggregate(rings_lat, 0, (a, x) -> a + size(x))"), lit(0)) * 16L + 64L)
          .as("row_bytes"),
        explode(col("cells")).as("c"))
      .withColumn("l", levelOf(col("c")))
      .agg(sum(col("row_bytes")).as("bytes"), collect_set(col("l")).as("levels"),
        max(struct(col("l"), col("region_id"))).as("deepest"))
      .head()
    if (!row.isNullAt(2)) {
      val deepest = row.getStruct(2)
      require(deepest.getInt(0) <= 16,
        s"containment: region ${deepest.getString(1)} has a covering cell at " +
          s"level ${deepest.getInt(0)}; images probe by their level-16 cell, " +
          "so covering levels must be <= 16")
    }
    val bytes = if (row.isNullAt(0)) 0L else row.getLong(0)
    val levels = row.getSeq[Int](1).sorted
    val minLevel = if (levels.isEmpty) 30 else levels.head
    val bcast = bytes <= broadcastBytesLimit
    ContainmentChoice(bcast,
      if (!bcast && minLevel <= coarseLevelMax) SaltBuckets else 0,
      bytes, minLevel, levels)
  }

  /** The probe route over driver-resident regions: ONE map-side probe per
    * image against a driver-built cell->regions index — precisely b6's
    * per-point index probe (api/functions/features.go:96-113) re-expressed
    * for Spark. No ancestor explosion, no per-row Seq conversions: the plan
    * is scan -> codegen probe -> generator, fully pipelined, zero shuffle.
    * Equal to the shuffle route (covering-independence, OpsSpec). */
  def containmentProbe(images: DataFrame, regions: Array[Region]): DataFrame =
    probeWith(images, col("cell16"), new ProbeIndex(regions))

  /** H3-pruned variant of the probe (north rule: "H3/S2 index"): identical
    * exact-refine semantics, but candidate pruning runs on the hex index —
    * per region, a sound H3 covering (Hex7.polygonCovering) at a
    * size-adaptive resolution; per image, the res-9 cell's parent at each
    * covering resolution probes a hash index. Results are
    * covering-independent, so this path must (and is tested to) equal the
    * S2 path row-for-row. */
  def containmentProbeHex7(images: DataFrame, regions: Array[Region]): DataFrame =
    probeWith(images, S2Expressions.hex7Cell(col("lat"), col("lng"), Hex7ImageRes),
      new Hex7ProbeIndex(regions, Hex7ImageRes))

  /** Both probes share the native codegen probe expression: `key` is the
    * image's cell in the index's id space. Two projections: the exploded
    * region ordinals, then the images' columns with `region_id` in place of
    * one they already carry, else appended (withColumn's semantics). */
  private def probeWith(images: DataFrame, key: Column, index: PointProbe): DataFrame = {
    val probed = images.withColumn("ridx", explode(S2Expressions.containmentProbe(
      key, col("lat"), col("lng"), index)))
    val resolver = SQLConf.get.resolver
    val regionId = element_at(lit(index.regionIds), col("ridx") + 1).as("region_id")
    val kept = probed.columns.toSeq.filterNot(resolver(_, "ridx")).map(c =>
      if (resolver(c, "region_id")) regionId else col(s"`${c.replace("`", "``")}`"))
    probed.select(
      (if (images.columns.exists(resolver(_, "region_id"))) kept else kept :+ regionId): _*)
  }
}
