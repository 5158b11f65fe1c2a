package graft.ops

import graft.core.{Geo, Tiles}
import graft.functions.{S2Expressions, Udfs}
import graft.sources.Mvt
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Raster<->vector tile assignment — deterministic (zoom, x, y) manifest rows
  * with the reference's tile math (SURVEY.md §2.4 "tile-assignment join";
  * /root/reference/src/diagonal.works/b6/tiles.go:255-339).
  *
  * A generator-shaped explode (UDTF analogue): no join, no shuffle until the
  * optional per-tile aggregation, which is a plain hash aggregate. */
object Tiling {

  /** Point features: tile at zMax via the Mercator projection
    * (tiles.go:198-253), parents by halving up to zMin (tiles.go:301-339).
    * Output: one row per (image, zoom).
    *
    * The generator emits PACKED TileIDs (primitive long[], no boxing) and
    * z/x/y decode as Column bit arithmetic (`S2Expressions.tileXYZ`)
    * inside whole-stage codegen — the generator boundary carries one
    * primitive array per row. Valid for zMax <= 15 (packed z occupies the
    * top 5 bits; zooms >= 16 set the sign bit, which the unsigned decode
    * still handles). */
  def pointManifest(images: DataFrame, zMin: Int, zMax: Int): DataFrame = {
    val (z, x, y) = S2Expressions.tileXYZ(col("tid"))
    images
      .select(col("image_id"), explode(S2Expressions.tileChain(
        col("lat"), col("lng"), zMin, zMax)).as("tid"))
      .select(col("image_id"), z.as("z"), x.as("x"), y.as("y"))
  }

  /** Rule-driven per-zoom basemap LAYER manifest — the reference's
    * RenderRules (renderer/renderer.go:68-130: per-rule tag query + zoom
    * window + target layer, unioned per zoom) re-expressed set-at-a-time:
    * `rules` = (rule_idx, tag_key, tag_value NULLABLE, min_zoom, max_zoom,
    * layer); a rule is ACTIVE at z when (min_zoom = 0 OR z >= min_zoom) AND
    * (max_zoom = 0 OR z <= max_zoom); a keyed rule (null value) matches any
    * feature carrying the key, a tagged rule matches key = value; a feature
    * rendered by several active rules takes the LOWEST rule_idx's layer
    * (deterministic first-match — the reference unions the rule queries and
    * orders tile features by layer). Output one row per styled tile layer:
    * (z, x, y, layer, n_features, first_id), first_id = the tile layer's
    * lowest feature id (the reference's layer-then-id feature order
    * witness).
    *
    * Scale shape: rules broadcast (tiny); zoom fan-out is a bounded explode;
    * first-match is one keyed partial-aggregating groupBy; tile assignment
    * reuses the gated [[pointManifest]] chain and joins back on the
    * (feature, z) equi-key — no all-pairs anywhere.
    * @param features (feature_id, lat, lng, tags MAP<STRING,STRING>). */
  def renderLayers(features: DataFrame, rules: DataFrame,
                   zMin: Int, zMax: Int): DataFrame = {
    val tagged = features.select(col("feature_id"), col("lat"), col("lng"),
      explode(col("tags")).as(Seq("tag_key", "tag_value")))
    val r = rules.select(col("rule_idx"), col("tag_key").as("r_key"),
      col("tag_value").as("r_val"), col("min_zoom"), col("max_zoom"), col("layer"))
    // lat/lng ride the first-match groupBy (functionally dependent on
    // feature_id) so the tile id comes from the SAME scan — the zoom-z tile
    // is picked from the feature's tile chain inline, no second read of the
    // feature table and no (feature, z) re-join
    val (_, tx, ty) = S2Expressions.tileXYZ(col("tid"))
    tagged
      .join(broadcast(r), col("tag_key") === col("r_key") &&
        (col("r_val").isNull || col("r_val") === col("tag_value")))
      .withColumn("z", explode(sequence(lit(zMin), lit(zMax))))
      .where((col("min_zoom") === 0 || col("z") >= col("min_zoom")) &&
        (col("max_zoom") === 0 || col("z") <= col("max_zoom")))
      .groupBy(col("feature_id"), col("lat"), col("lng"), col("z"))
      .agg(min(struct(col("rule_idx"), col("layer"))).as("s"))
      .withColumn("tid", element_at(S2Expressions.tileChain(
        col("lat"), col("lng"), zMin, zMax),
        // the chain is DESCENDING by zoom (head = zMax)
        lit(zMax) - col("z") + lit(1)))
      .select(col("feature_id"), col("z"), col("s.layer").as("layer"),
        tx.as("x"), ty.as("y"))
      .groupBy(col("z"), col("x"), col("y"), col("layer"))
      .agg(count(lit(1)).as("n_features"), min(col("feature_id")).as("first_id"))
  }

  /** Area features: tiles covering each region's S2 covering across zooms —
    * the MVT serving path re-expressed as a batch manifest (SURVEY.md §3.3).
    */
  def coveringManifest(regions: DataFrame, zMin: Int, zMax: Int): DataFrame =
    regions
      .withColumn("t", explode(
        Udfs.tilesForCoveringAcrossZooms(zMin, zMax)(col("cells"))))
      .select(col("region_id"),
        col("t._1").as("z"), col("t._2").as("x"), col("t._3").as("y"))

  /** EXACT per-tile rasterized polygon area — the raster side of the
    * raster<->vector surface as a zonal-statistics operator: for every
    * (region, tile) the spherical area (m²) of region ∩ tile, the weight
    * table an area-weighted zonal aggregate joins against (population
    * density, per-tile coverage fractions, cartogram shading). Semantics:
    * planar lat/lng ring edges (the ray-cast containment convention used
    * engine-wide) clipped to the tile's lat/lng window — shell ring area
    * minus hole ring areas (even-odd, matching the containment probe).
    *
    * Scale shape: candidates come from `coveringManifest` (the region's S2
    * covering re-tiled — a SOUND SUPERSET of the intersecting tiles; empty
    * clips drop on the area > 0 filter), the ring payload rides a broadcast
    * of the small region table, and the clip+area kernel (Sutherland-
    * Hodgman against a convex window + L'Huilier spherical excess —
    * `Geo.clipRingToRect`/`sphericalAreaM2`, the q_clip kernels) runs
    * map-side per candidate row. No shuffle of anything large; fan-out =
    * tiles per region at the zoom. */
  def rasterizeArea(regions: DataFrame, zoom: Int): DataFrame = {
    val areaUdf = udf((ringsLat: Seq[Seq[Double]], ringsLng: Seq[Seq[Double]],
                       z: Int, x: Long, y: Long) => {
      val (latLo, latHi, lngLo, lngHi) = graft.core.Tiles.tileBoundsDeg(z, x, y)
      var area = 0.0
      var r = 0
      while (r < ringsLat.length) {
        val (cl, cg) = graft.core.Geo.clipRingToRect(
          ringsLat(r).toArray, ringsLng(r).toArray, latLo, latHi, lngLo, lngHi)
        val a = if (cl.length >= 3) graft.core.Geo.sphericalAreaM2(cl, cg) else 0.0
        area += (if (r == 0) a else -a) // shell minus holes (even-odd)
        r += 1
      }
      area
    })
    coveringManifest(regions, zoom, zoom)
      .join(broadcast(regions.select(col("region_id"),
        col("rings_lat"), col("rings_lng"))), Seq("region_id"))
      .withColumn("area_m2",
        areaUdf(col("rings_lat"), col("rings_lng"), col("z"), col("x"), col("y")))
      .where(col("area_m2") > 0)
      .select("region_id", "z", "x", "y", "area_m2")
  }

  /** KDE-smoothed per-tile density at one zoom — the heatmap layer over the
    * tile manifest (the raster side of the reference's raster<->vector
    * surface, tiles.go + renderer/, turned into an analytic aggregate): per
    * tile counts convolved with an integer TRIANGULAR kernel of half-width
    * k, weight (k+1-|dx|)*(k+1-|dy|) — integer weights keep the whole
    * operator exact (no float kernel to reconcile with the oracle).
    *
    * Scale shape: aggregate FIRST (map-side-combining count per tile — the
    * only pass over the raw points), then explode the (2k+1)^2 offsets on
    * the aggregated tile table only, then one more keyed aggregation.
    * Fan-out rides the small table; the raw table shuffles once, keyed by
    * tile. x wraps across the antimeridian (pmod 2^z); y clamps at the
    * poles (rows dropped outside [0, 2^z)). */
  def smoothedDensity(images: DataFrame, zoom: Int, k: Int): DataFrame = {
    require(zoom >= 1 && zoom <= 15, s"zoom $zoom outside [1, 15]")
    require(k >= 0, "kernel half-width must be >= 0")
    val n = 1L << zoom
    val counts = pointManifest(images, zoom, zoom)
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
    val offsets = for { dx <- -k to k; dy <- -k to k } yield struct(
      lit(dx).as("dx"), lit(dy).as("dy"),
      lit((k + 1 - math.abs(dx)).toLong * (k + 1 - math.abs(dy))).as("w"))
    counts
      .withColumn("o", explode(array(offsets: _*)))
      .select(pmod(col("x") + col("o.dx"), lit(n)).as("x"),
        (col("y") + col("o.dy")).as("y"),
        (col("n") * col("o.w")).as("wn"))
      .where(col("y") >= 0 && col("y") < n)
      .groupBy("x", "y").agg(sum("wn").as("density"))
      .select(lit(zoom).as("z"), col("x"), col("y"), col("density"))
  }

  /** Hex-grid density smoothing — `smoothedDensity`'s twin on the Hex7
    * index (the H3 gridDisk/kRing neighborhood aggregate: hex binning +
    * disk smoothing is the standard hex-analytics primitive). Per occupied
    * hex at `res`, counts convolve over the k-ring with integer triangular
    * weights (k+1-ringDistance) — exact, like the square-tile form. Cells
    * that receive weight from an occupied neighbor appear even when empty
    * themselves (same emission rule as `smoothedDensity`).
    *
    * Scale shape: aggregate FIRST (one map-side-combining count per hex —
    * the only pass over the points), then the <=(3k²+3k+1)-cell disk
    * explode rides the occupied-cell table, then one keyed re-sum. Disk
    * membership comes from `Hex7.kRing` (BFS over the axial neighbors;
    * face-seam cells have clipped disks, the documented Hex7 divergence). */
  def hexSmoothedDensity(images: DataFrame, res: Int, k: Int): DataFrame = {
    require(res >= 1 && res <= 15, s"hex res $res outside [1, 15]")
    require(k >= 0, "disk radius must be >= 0")
    val counts = images
      .withColumn("cell", S2Expressions.hex7Cell(
        col("lat"), col("lng"), res))
      .groupBy("cell").agg(count(lit(1)).as("n"))
    val disk = udf((cell: Long) =>
      graft.core.Hex7.kRing(cell, k).map { case (c, d) => (c, (k + 1 - d).toLong) })
    counts
      .withColumn("o", explode(disk(col("cell"))))
      .select(col("o._1").as("cell"), (col("n") * col("o._2")).as("wn"))
      .groupBy("cell").agg(sum("wn").as("density"))
  }

  /** Multi-zoom tile-count pyramid by CHILD->PARENT ROLL-UP — the overview
    * build a tile server runs over write-once corpora (tiles.go:301-339's
    * parent halving turned into an aggregation tree). `pointManifest` +
    * `tileCounts` answers the same uncapped question by exploding every
    * point into |zooms| rows and shuffling them all into the count
    * aggregate; at fine zMax the map-side combine barely collapses anything
    * (each map task sees mostly-distinct zMax tiles), so that shuffle
    * carries ~points x |zooms| rows. The pyramid instead pays ONE pass over
    * the points (the zMax histogram — the only full-data shuffle, keyed by
    * tile) and derives every coarser zoom by re-aggregating the OCCUPIED
    * zMax-tile table with x>>s, y>>s — exact, because Mercator tile parents
    * are pure coordinate halving, and cheap, because the rolled-up input is
    * bounded by min(|points|, 4^zMax) rows regardless of corpus size.
    *
    * The zMax histogram persists as an iteration snapshot (one per call,
    * the engine-wide contract) so the per-level aggregations read memory,
    * not the corpus; `EngineCaches.releaseIterationSnapshots()` frees it.
    * Counts are uncapped (the 10k render cap of `tileCounts` is a
    * per-feature rank, which cannot ride a roll-up; overview analytics want
    * the true density anyway). Output: (z, x, y, n_features), one row per
    * occupied tile per zoom in [zMin, zMax]. */
  def pyramidCounts(images: DataFrame, zMin: Int, zMax: Int): DataFrame = {
    require(zMin >= 1 && zMin <= zMax && zMax <= 15,
      s"pyramidCounts zooms [$zMin, $zMax] outside [1, 15]")
    val base = pointManifest(images, zMax, zMax)
      .groupBy("x", "y").agg(count(lit(1)).as("n_features"))
    rollUpSums(base, zMin, zMax, Seq("n_features"))
  }

  /** Shared pyramid machinery: `base` holds one row per occupied zMax tile
    * with (x, y) plus monoid sum columns; every zoom in [zMin, zMax] is the
    * keyed re-sum under `x>>s, y>>s`. The base persists as exactly one
    * iteration snapshot (EngineCaches contract) so the per-level
    * aggregations read memory, not the corpus. */
  private[ops] def rollUpSums(base: DataFrame, zMin: Int, zMax: Int,
                              sumCols: Seq[String]): DataFrame = {
    val baseSnap = Tracker.run(base.sparkSession)(_.snapshot(base))
    val out = Seq(col("z"), col("x"), col("y")) ++ sumCols.map(col)
    (zMin to zMax).map { z =>
      val s = zMax - z
      if (s == 0)
        baseSnap.withColumn("z", lit(z)).select(out: _*)
      else
        baseSnap
          .groupBy(shiftrightunsigned(col("x"), s).as("x"),
            shiftrightunsigned(col("y"), s).as("y"))
          .agg(sum(sumCols.head).as(sumCols.head),
            sumCols.tail.map(c => sum(c).as(c)): _*)
          .withColumn("z", lit(z)).select(out: _*)
    }.reduce(_ unionByName _)
  }

  /** Incremental pyramid maintenance: merge per-batch pyramids by summing
    * counts per (z, x, y) — count histograms are a commutative monoid, so
    * `pyramidCounts(a ∪ b) == mergePyramids(pyramidCounts(a),
    * pyramidCounts(b))` exactly (gated: q_pyramid_merge). At corpus scale
    * this is the overview-maintenance path: a new ingest batch builds its
    * own (tiny, occupied-tiles-only) pyramid with ONE pass over the batch,
    * and the stored overview updates with an aggregation over
    * occupied-tile tables — the full corpus is never re-read. The merge is
    * a plain keyed sum, so it also runs as a Structured Streaming
    * aggregation or an Iceberg MERGE on the (z, x, y) key unchanged. */
  def mergePyramids(pyramids: DataFrame*): DataFrame = {
    require(pyramids.nonEmpty, "mergePyramids: no pyramids to merge")
    pyramids.reduce(_ unionByName _)
      .groupBy("z", "x", "y").agg(sum("n_features").as("n_features"))
  }

  /** The Gi* z-score float expression over the integer aggregates
    * (gi, wi, nn, s1, s2) — ONE text, parsed by BOTH Spark (`expr`) and the
    * DuckDB oracle, so the float arithmetic is bit-identical by
    * construction (the shared-arithmetic-text discipline): every operand is
    * an exact integer and every double op (CAST, /, *, -, SQRT) is
    * IEEE-correctly-rounded in both engines. xbar = s1/nn is inlined
    * twice rather than bound, keeping the op ORDER identical. */
  private[graft] val GiStarZSql: String =
    "(CAST(gi AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)) * CAST(wi AS DOUBLE)) / " +
      "(SQRT(CAST(s2 AS DOUBLE) / CAST(nn AS DOUBLE) - " +
      "(CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE)) * (CAST(s1 AS DOUBLE) / CAST(nn AS DOUBLE))) * " +
      "SQRT((CAST(nn AS DOUBLE) * CAST(wi AS DOUBLE) - CAST(wi AS DOUBLE) * CAST(wi AS DOUBLE)) / " +
      "(CAST(nn AS DOUBLE) - CAST(1 AS DOUBLE))))"

  /** Getis-Ord Gi* hot-spot z-scores over the per-tile point counts at one
    * zoom — the classic local spatial statistic (Getis & Ord 1992; the
    * "where are the statistically significant photo hot spots" layer on top
    * of the tile manifest). Universe = the OCCUPIED tiles (documented
    * contract: empty tiles are not observations — the statistic ranks
    * occupied tiles against each other, the standard practice for point
    * data on a mostly-empty global grid); weights are binary over the 3x3
    * Moore neighbourhood INCLUDING self (that is Gi*, vs Gi). For occupied
    * tile i:  z_i = (G_i - xbar*W_i) / (S * sqrt((nn*W_i - W_i^2)/(nn-1)))
    * with G_i the neighbourhood count sum, W_i the occupied-neighbour count,
    * xbar/S the global mean/stddev over the nn occupied tiles.
    *
    * Scale shape: ONE aggregation over the raw points (map-side combine,
    * keyed by tile), then everything else rides the small aggregated tile
    * table: a 9-offset explode + self-equi-join (antimeridian x-wrap, same
    * as smoothedDensity) and a broadcast 1-row global-stats attach (keyless
    * aggregate — provably one row; see the stats-attach note below). The
    * raw table shuffles exactly once. Rows whose variance terms would
    * divide by zero (all-equal counts, nn==1, or W_i==nn) are filtered by
    * EXACT integer guards shared with the oracle. */
  def giStar(images: DataFrame, zoom: Int): DataFrame = {
    require(zoom >= 1 && zoom <= 15, s"zoom $zoom outside [1, 15]")
    val side = 1L << zoom
    val c = pointManifest(images, zoom, zoom)
      .groupBy("x", "y").agg(count(lit(1)).as("n"))
    val g = c.agg(count(lit(1)).as("nn"), sum("n").as("s1"),
      sum(col("n") * col("n")).as("s2"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield struct(
      lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))
    val nb = c.withColumn("o", explode(array(offsets: _*)))
      .select(pmod(col("x") + col("o.dx"), lit(side)).as("x"),
        (col("y") + col("o.dy")).as("y"), col("n").as("nj"))
    // join back to the occupied keys: off-grid y and empty neighbours drop
    val gi = c.select("x", "y").join(nb, Seq("x", "y"))
      .groupBy("x", "y").agg(sum("nj").as("gi"), count(lit(1)).as("wi"))
    // the 1-row keyless-aggregate attach: BroadcastNestedLoopJoin with a
    // PROVABLY single-row build side (aggregate with no grouping keys).
    // Deliberately NOT resolved driver-side as literals — that shape runs a
    // second full aggregation job over the input (two raw scans at 100 TB)
    // and makes the operator eager; PlanSpec allowlists this attach class
    // explicitly (stats-attach, distinct from the all-pairs baselines).
    gi.crossJoin(broadcast(g))
      .where(col("nn") > 1 && col("wi") < col("nn") &&
        col("s2") * col("nn") > col("s1") * col("s1"))
      .select(lit(zoom).as("z"), col("x"), col("y"), expr(GiStarZSql).as("gi_z"))
  }

  /** MVT POINT layer: encode each tile's point features as a Mapbox Vector
    * Tile blob (graft.sources.Mvt) — the reference's HTTP serving path
    * re-shaped as a batch job (SURVEY.md §3.3): features -> tile assignment
    * (the codegen tile chain of [[pointManifest]]) -> groupBy(z,x,y) ->
    * encoded bytes, with id-ordered determinism and the 10k/tile cap.
    * Output: (z, x, y, n_features, mvt BINARY). */
  def mvtPointTiles(images: DataFrame, zoom: Int, layerName: String): DataFrame = {
    val (z, x, y) = S2Expressions.tileXYZ(col("tid"))
    val assigned = images
      .withColumn("tid", element_at(S2Expressions.tileChain(
        col("lat"), col("lng"), zoom, zoom), 1))
      .select(z.as("z"), x.as("x"), y.as("y"),
        col("image_id"), col("lat"), col("lng"))
    mvtLayer(assigned, "image_id", layerName) { (f, z, x, y) =>
      val (px, py) = Mvt.tileLocal(f.getDouble(2), f.getDouble(3), z, x, y)
      Mvt.Feature(Mvt.featureId(0L, "graft/image", f.getLong(1)), 1,
        Mvt.lineGeometry(Array(px), Array(py)))
    }
  }

  /** MVT LINESTRING layer: assign each path to EVERY tile its projected
    * chords cross (supercover traversal, Tiles.tilesOnSegment — exact
    * w.r.t. the geometry the encoder draws; no vertex-sampling gaps on
    * long segments), then per tile encode the paths (id order) with
    * Douglas-Peucker simplification at one-pixel tolerance — the
    * reference's line rendering path (renderer/encoder.go:77-143 +
    * simplify.go) as a batch sink. Output: (z, x, y, n_features, mvt). */
  def mvtPathTiles(paths: DataFrame, zoom: Int, layerName: String): DataFrame = {
    val tilesUdf = udf((lats: Seq[Double], lngs: Seq[Double]) => {
      val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
      var i = 1
      if (lats.length == 1) out += Tiles.tileFromLatLng(lats(0), lngs(0), zoom)
      while (i < lats.length) {
        Tiles.tilesOnSegment(lats(i - 1), lngs(i - 1), lats(i), lngs(i), zoom)
          .foreach(out += _)
        i += 1
      }
      out.toSeq
    })
    val assigned = paths
      .withColumn("t", explode(tilesUdf(col("lats"), col("lngs"))))
      .select(lit(zoom).as("z"), col("t._1").as("x"), col("t._2").as("y"),
        col("path_id"), col("lats"), col("lngs"))
    mvtLayer(assigned, "path_id", layerName) { (f, z, x, y) =>
      val (xs, ys) = pixels(f.getSeq[Double](2), f.getSeq[Double](3), z, x, y)
      Mvt.Feature(Mvt.featureId(1L, "graft/path", f.getString(1).split("-").last.toLong), 2,
        Mvt.lineGeometry(xs, ys))
    }
  }

  /** MVT POLYGON layer: regions assigned to tiles via their S2 covering
    * (the serving path's MightIntersect prune, SURVEY §3.3), rings encoded
    * with MoveTo/LineTo/ClosePath and one-pixel simplification. */
  def mvtRegionTiles(regions: DataFrame, zoom: Int, layerName: String): DataFrame = {
    val assigned = regions
      .withColumn("t", explode(Udfs.tilesForCovering(zoom)(col("cells"))))
      .select(lit(zoom).as("z"), col("t._2").as("x"), col("t._3").as("y"),
        col("region_id"), col("rings_lat"), col("rings_lng"))
    mvtLayer(assigned, "region_id", layerName) { (f, z, x, y) =>
      val ringsLat = f.getSeq[Seq[Double]](2); val ringsLng = f.getSeq[Seq[Double]](3)
      val rings = ringsLat.indices.map(r => pixels(ringsLat(r), ringsLng(r), z, x, y))
      Mvt.Feature(Mvt.featureId(2L, "graft/region", f.getString(1).split("-").last.toLong), 3,
        Mvt.polygonGeometry(rings))
    }
  }

  /** The MVT sinks' per-tile feature cap: the reference's 10k
    * (renderer/query.go:34,104-106). */
  private val MvtTileCap = 10000

  /** The one MVT layer sink. `assigned` holds one row per (feature, tile):
    * z, x, y, then the feature's id column `id` and its payload columns.
    * Features rank by id inside each tile and rows past `MvtTileCap` drop
    * BEFORE the per-tile collect (VERDICT r01), so a dense tile never
    * materializes more than the cap into the encode buffer. Each tile's
    * features encode in rank order through `feature(f, z, x, y)`, where
    * `f` is (rank, id, payload...) — collect_list order is
    * nondeterministic, the rank restores id order. Output: (z, x, y,
    * n_features, mvt). */
  private def mvtLayer(assigned: DataFrame, id: String, layerName: String)(
      feature: (Row, Int, Long, Long) => Mvt.Feature): DataFrame = {
    val fields = assigned.columns.drop(3).map(col)
    val encode = udf((z: Int, x: Long, y: Long, feats: Seq[Row]) =>
      Mvt.encodeLayer(layerName, feats.sortBy(_.getInt(0)).map(feature(_, z, x, y))))
    assigned
      .withColumn("rn", row_number().over(
        Window.partitionBy("z", "x", "y").orderBy(col(id))))
      .where(col("rn") <= MvtTileCap)
      .groupBy("z", "x", "y")
      .agg(collect_list(struct(col("rn") +: fields: _*)).as("feats"))
      .select(col("z"), col("x"), col("y"),
        size(col("feats")).cast("long").as("n_features"),
        encode(col("z"), col("x"), col("y"), col("feats")).as("mvt"))
  }

  /** One-pixel Douglas-Peucker simplification, then tile-local pixels in
    * tile (z, x, y); the tolerance is one pixel in degrees longitude (the
    * tile spans 360/2^z degrees across Mvt.Extent pixels). */
  private def pixels(lats: Seq[Double], lngs: Seq[Double],
                     z: Int, x: Long, y: Long): (Array[Int], Array[Int]) = {
    val la = lats.toArray; val lo = lngs.toArray
    val keep = Geo.simplify(la, lo, 360.0 / ((1L << z).toDouble * Mvt.Extent))
    val xs = new Array[Int](keep.length); val ys = new Array[Int](keep.length)
    var k = 0
    while (k < keep.length) {
      val (px, py) = Mvt.tileLocal(la(keep(k)), lo(keep(k)), z, x, y)
      xs(k) = px; ys(k) = py
      k += 1
    }
    (xs, ys)
  }
}
