package graft.ops

import graft.core.S2
import graft.functions.Udfs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-in-polygon containment join — the canonical cell-pruned prune+refine
  * join of the north star (SURVEY.md §2.4, b6 `containing-areas`,
  * /root/reference/src/diagonal.works/b6/api/functions/features.go:95-135).
  *
  * Plan shape (scale rationale):
  *   - regions explode their mixed-level S2 covering (MaxLevel 16/MaxCells 5,
  *     search/spatial.go:30-32) into (cell, region) rows — small side.
  *   - images explode their level-16 cell's ancestors at ONLY the levels
  *     present in the covering (<= ~10 rows/image, map-side generate).
  *   - equi-join on the cell token: BROADCAST when the region side is small
  *     (the common case: polygon sets are tiny next to 10^12 images), so the
  *     image table is never shuffled; SHUFFLE-HASH with optional salting for
  *     huge region sets.
  *   - exact ray-cast refine (features.go:46-56 semantics) after the prune;
  *     results are covering-independent (SURVEY.md §7.4).
  *
  * Covering cells of one region are disjoint, so an image matches a region
  * through at most one covering cell — no post-join dedupe needed.
  */
object Containment {

  // one shared level-derivation UDF: the join's distinct-levels pass and the
  // auto-planner's stats job must never drift apart (review r03g)
  private val levelOf = udf((c: Long) => S2.level(c))

  /** @param images  point side; must carry image_id, lat, lng, cell16.
    *                Project heavy payload columns away before calling.
    * @param regions polygon side: region_id, rings_lat, rings_lng, cells.
    * @param broadcastRegions broadcast the exploded covering (default) or
    *                shuffle-hash join (for region sets too big to broadcast).
    * @param saltBuckets with the shuffle path, salt the hot cells: images get
    *                a deterministic salt from image_id, region cells are
    *                replicated saltBuckets times (north-rule skew handling;
    *                AQE skew-join also stays on).
    */
  def containmentJoin(images: DataFrame, regions: DataFrame,
                      broadcastRegions: Boolean = true,
                      saltBuckets: Int = 0): DataFrame =
    containmentJoinImpl(images, regions, broadcastRegions, saltBuckets, None)

  /** Internal form taking the distinct covering levels a caller ALREADY
    * computed over these same `regions` (`containmentAuto` gets them from
    * `chooseStrategy`'s stats job). Package-private on purpose: a level set
    * that does not match `regions` would silently drop matches — ancestors
    * are generated only at the supplied levels — so the pairing stays an
    * internal invariant, never a public cache for callers to get stale
    * (review r03h). */
  private[ops] def containmentJoinImpl(images: DataFrame, regions: DataFrame,
                                       broadcastRegions: Boolean,
                                       saltBuckets: Int,
                                       knownLevels: Option[Seq[Int]]): DataFrame = {
    val regionCells = regions.select(
      col("region_id"), col("rings_lat"), col("rings_lng"),
      explode(col("cells")).as("rcell"))

    // levels present in any covering — aggregate to the <= 31 distinct
    // LEVELS executor-side and collect only those scalars: collecting the
    // distinct CELLS would put O(|regions| x cells-per-covering) longs on
    // the driver, which the non-broadcast path below exists to avoid
    // (review r03c)
    val levels: Seq[Int] = knownLevels.getOrElse(
      regionCells.select(levelOf(col("rcell")).as("l"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq)

    // native codegen ancestors (no ScalaUDF round-trip on the big side)
    val probes = images.withColumn("anc", explode(
      graft.functions.S2Expressions.s2Ancestors(col("cell16"), levels.toArray)))

    val joined =
      if (broadcastRegions)
        probes.join(broadcast(regionCells), col("anc") === col("rcell"))
      else if (saltBuckets > 1) {
        val salted = probes.withColumn("salt",
          pmod(xxhash64(col("image_id")), lit(saltBuckets)).cast("int"))
        val replicated = regionCells.withColumn("salt",
          explode(lit((0 until saltBuckets).toArray)))
        salted.join(replicated,
          col("anc") === col("rcell") && salted("salt") === replicated("salt"))
      } else
        probes.join(regionCells.hint("shuffle_hash"), col("anc") === col("rcell"))

    joined
      .where(graft.functions.S2Expressions.containsRings(
        col("lat"), col("lng"), col("rings_lat"), col("rings_lng")))
      .select(images.columns.map(col) :+ col("region_id"): _*)
  }

  /** The auto-planner's decision record — stats come from ONE tiny aggregate
    * over the REGION side only (the decision must never scan the image side:
    * at design scale that side is 10^12 rows and any pre-scan would dwarf
    * the join it is trying to plan).
    *
    * @param broadcast         exploded covering fits the broadcast budget
    * @param saltBuckets       > 0 only on the shuffle path when the covering
    *                          contains a COARSE cell (level <= coarseLevelMax):
    *                          a level-8 covering cell funnels a continent-scale
    *                          image population through one hash key, the
    *                          deterministic-skew case AQE's runtime splitting
    *                          should not be left to discover alone
    * @param estBroadcastBytes estimated exploded-covering broadcast payload:
    *                          per covering row, the 24-byte (cell, id) core
    *                          plus the region's full ring geometry (16 B per
    *                          vertex), since `containmentJoin` broadcasts the
    *                          rings WITH each exploded covering row
    * @param minCoverLevel     coarsest S2 level present in any covering
    * @param levels            ALL distinct covering levels, sorted — returned
    *                          so `containmentAuto` can hand them straight to
    *                          `containmentJoin` and the whole auto path costs
    *                          exactly ONE region-side job (review r03g) */
  final case class ContainmentChoice(broadcast: Boolean, saltBuckets: Int,
                                     estBroadcastBytes: Long, minCoverLevel: Int,
                                     levels: Seq[Int])

  /** Pick broadcast vs shuffle-hash vs salted-shuffle for `containmentJoin`
    * from the materialized coverings (the sorted Long arrays in `cells`) —
    * the north star's "broadcast-vs-shuffle join planning" step, run as one
    * small Spark job over the region frame. Catalyst cannot make this call
    * itself: the broadcast cost lives in the EXPLODED covering (cells x
    * rings), which the optimizer's pre-explosion row stats do not see. */
  def chooseStrategy(regions: DataFrame,
                     broadcastBytesLimit: Long = 8L << 20,
                     coarseLevelMax: Int = 9,
                     saltBuckets: Int = 8): ContainmentChoice = {
    val row = regions.select(
        // each exploded row carries the region's full ring payload
        (expr("aggregate(rings_lat, 0, (a, x) -> a + size(x))") * 16L + 64L)
          .as("row_bytes"),
        explode(col("cells")).as("c"))
      .agg(sum(col("row_bytes")).as("bytes"),
        collect_set(levelOf(col("c"))).as("levels"))
      .head()
    val bytes = if (row.isNullAt(0)) 0L else row.getLong(0)
    val levels = row.getSeq[Int](1).sorted
    val minLevel = if (levels.isEmpty) 30 else levels.head
    val bcast = bytes <= broadcastBytesLimit
    ContainmentChoice(bcast,
      if (!bcast && minLevel <= coarseLevelMax) saltBuckets else 0,
      bytes, minLevel, levels)
  }

  /** `containmentJoin` behind the auto-planner: identical results on every
    * path (covering-independence, OpsSpec), so the choice is purely a
    * physical-plan decision. */
  def containmentAuto(images: DataFrame, regions: DataFrame,
                      broadcastBytesLimit: Long = 8L << 20,
                      coarseLevelMax: Int = 9,
                      saltBuckets: Int = 8): DataFrame = {
    val c = chooseStrategy(regions, broadcastBytesLimit, coarseLevelMax, saltBuckets)
    containmentJoinImpl(images, regions,
      broadcastRegions = c.broadcast, saltBuckets = c.saltBuckets,
      knownLevels = Some(c.levels))
  }

  /** Broadcast-probe fast path: the same prune+refine semantics as
    * `containmentJoin`, executed as ONE map-side probe per image against a
    * driver-built cell->regions hash index — precisely b6's per-point index
    * probe (api/functions/features.go:96-113) re-expressed for Spark. No
    * ancestor explosion, no per-row Seq conversions: the plan is
    * scan -> UDF -> generator, fully pipelined, zero shuffle of the image
    * side. Use when the region side fits on the driver (the common case —
    * polygon sets are tiny next to 10^12 images); `containmentJoin` remains
    * the general path.
    *
    * Both paths are verified equal in OpsSpec (covering-independence). */
  def containmentProbe(images: DataFrame,
                       regions: Array[graft.model.Synth.Region]): DataFrame = {
    val index = new ProbeIndex(regions)
    images
      .withColumn("ridx", explode(graft.functions.S2Expressions.containmentProbe(
        col("cell16"), col("lat"), col("lng"), index)))
      .withColumn("region_id", element_at(lit(index.regionIds), col("ridx") + 1))
      .drop("ridx")
  }

  /** H3-pruned variant of the probe (north rule: "H3/S2 index"): identical
    * exact-refine semantics, but candidate pruning runs on the hex index —
    * per region, a sound H3 covering (Hex7.polygonCovering) at a
    * size-adaptive resolution; per image, the res-9 cell's parent at each
    * covering resolution probes a hash index. Results are
    * covering-independent, so this path must (and is tested to) equal the
    * S2 path row-for-row. */
  def containmentProbeHex7(images: DataFrame,
                         regions: Array[graft.model.Synth.Region],
                         imageRes: Int = 9): DataFrame = {
    // size-adaptive hex covering index as flat sorted arrays (Hex7ProbeIndex)
    // probed by the SAME native codegen expression as the S2 fast path —
    // since late round 3 neither probe path pays a ScalaUDF round-trip
    val index = new Hex7ProbeIndex(regions, imageRes)
    images
      .withColumn("hex7_img", graft.functions.S2Expressions.hex7Cell(col("lat"), col("lng"), imageRes))
      .withColumn("ridx", explode(graft.functions.S2Expressions.containmentProbe(
        col("hex7_img"), col("lat"), col("lng"), index)))
      .withColumn("region_id", element_at(lit(index.regionIds), col("ridx") + 1))
      .drop("ridx", "hex7_img")
  }
}
