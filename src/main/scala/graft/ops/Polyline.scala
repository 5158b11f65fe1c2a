package graft.ops

import graft.core.{Geo, S2}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Polyline operators (SURVEY.md §2.2 IntersectsPolyline, §2.3
  * distance-to-point-meters, §2.4 connect-to-network):
  *
  *   - distance from a point to a polyline = min over segments of the
  *     great-circle distance to each geodesic arc (Geo.distToArc), the
  *     reference's polyline-projection semantics (spatial.go:425-514)
  *   - polyline-intersects-polyline via pairwise strict arc crossings
  *     (Geo.arcsCross), the reference's known-approximate semantics
  *     (spatial.go:470-480 keeps the same approximation)
  *   - nearest-path join (connect-to-network, graph/connectivity.go:39-114):
  *     prune candidate paths by S2 covering cells, refine with exact
  *     distance, keep the per-point minimum within `maxDistMeters`.
  */
object Polyline {

  /** Meters from (lat,lng) to the nearest point of the polyline. */
  def distanceToPolylineMeters(lat: Double, lng: Double,
                               pLats: Array[Double], pLngs: Array[Double]): Double = {
    if (pLats.length == 1)
      return Geo.haversineMeters(lat, lng, pLats(0), pLngs(0))
    val x = Geo.toXYZ(lat, lng)
    var best = Double.MaxValue
    var i = 1
    while (i < pLats.length) {
      val a = Geo.toXYZ(pLats(i - 1), pLngs(i - 1))
      val b = Geo.toXYZ(pLats(i), pLngs(i))
      val d = Geo.distToArc(x, a, b) * Geo.EarthRadiusMeters
      if (d < best) best = d
      i += 1
    }
    best
  }

  val distToPolyline = udf((lat: Double, lng: Double,
                            pLats: Seq[Double], pLngs: Seq[Double]) =>
    distanceToPolylineMeters(lat, lng, pLats.toArray, pLngs.toArray))

  /** Do two polylines strictly cross (any segment pair)? */
  def polylinesCross(aLat: Array[Double], aLng: Array[Double],
                     bLat: Array[Double], bLng: Array[Double]): Boolean = {
    var i = 1
    while (i < aLat.length) {
      val p1 = Geo.toXYZ(aLat(i - 1), aLng(i - 1))
      val p2 = Geo.toXYZ(aLat(i), aLng(i))
      var j = 1
      while (j < bLat.length) {
        val q1 = Geo.toXYZ(bLat(j - 1), bLng(j - 1))
        val q2 = Geo.toXYZ(bLat(j), bLng(j))
        if (Geo.arcsCross(p1, p2, q1, q2)) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** sample-points-along-paths (features.go:379-427): n equidistant samples
    * per path, deduped on the emitted point — an explode-shaped generator. */
  def samplePointsAlongPaths(paths: DataFrame, n: Int): DataFrame = {
    val sample = udf((lats: Seq[Double], lngs: Seq[Double]) => {
      val la = lats.toArray; val lo = lngs.toArray
      (0 until n).map(i => Geo.interpolate(la, lo, i.toDouble / math.max(1, n - 1)))
    })
    paths
      .withColumn("p", explode(sample(col("lats"), col("lngs"))))
      .select(col("path_id"), col("p._1").as("lat"), col("p._2").as("lng"))
      .dropDuplicates("lat", "lng")
  }

  /** Covering levels of the cell-pruned path operators. */
  private val CrossingLevel = 14
  private val CandidateLevel = 12
  private val SnapLevel = 13

  /** Mean edge of a level-`level` S2 cell in meters: (pi/2)·R / 2^level. */
  private[graft] def cellEdgeMeters(level: Int): Double =
    (math.Pi / 2.0) * Geo.EarthRadiusMeters / (1L << level)

  /** Spacing of [[samplePath]]'s samples at `level`: half a cell edge. */
  private[graft] def sampleStepMeters(level: Int): Double = cellEdgeMeters(level) / 2.0

  /** The one covering walk under the cell-pruned path operators: calls
    * `visit` on points at most [[sampleStepMeters]](level) apart along each
    * segment, with n = max(1, ceil(length / step)) steps per segment.
    *   - path (`closed = false`): the first vertex, then each segment's
    *     `Geo.interpolate` samples at j/n for j = 1..n (the last one is the
    *     segment's end vertex up to rounding);
    *   - ring (`closed = true`): each vertex exactly, then the interior
    *     samples j = 1..n-1 of its edge to the next vertex (the last edge
    *     wraps to vertex 0).
    * Every point of a segment lies within step/2 of a sample along the
    * lat/lng-linear walk. An empty vertex list visits nothing. */
  private[graft] def samplePath(lats: Seq[Double], lngs: Seq[Double], level: Int,
                                closed: Boolean = false)
                               (visit: (Double, Double) => Unit): Unit = {
    val n = lats.length
    if (n == 0) return
    val stepM = sampleStepMeters(level)
    if (!closed) visit(lats(0), lngs(0))
    val edges = if (closed) n else n - 1
    var i = 0
    while (i < edges) {
      val k = if (i + 1 == n) 0 else i + 1
      if (closed) visit(lats(i), lngs(i))
      val segLen = Geo.haversineMeters(lats(i), lngs(i), lats(k), lngs(k))
      val m = math.max(1, math.ceil(segLen / stepM).toInt)
      val segLat = Array(lats(i), lats(k)); val segLng = Array(lngs(i), lngs(k))
      val last = if (closed) m - 1 else m
      var j = 1
      while (j <= last) {
        val (la, lo) = Geo.interpolate(segLat, segLng, j.toDouble / m)
        visit(la, lo)
        j += 1
      }
      i += 1
    }
  }

  /** Level-`level` cells of the [[samplePath]] samples, in first-seen order. */
  private[graft] def sampleCells(lats: Seq[Double], lngs: Seq[Double], level: Int,
                                 closed: Boolean = false): Array[Long] = {
    val cells = scala.collection.mutable.LinkedHashSet.empty[Long]
    samplePath(lats, lngs, level, closed)((la, lo) => cells += S2.cellAt(la, lo, level))
    cells.toArray
  }

  /** Level-`level` cells meeting cap(sample, reachM) for every
    * [[samplePath]] sample of the path, in first-seen order
    * (S2.coveringAtLevel is may-intersect sound). */
  private def capCover(lats: Seq[Double], lngs: Seq[Double], level: Int,
                       reachM: Double): scala.collection.mutable.LinkedHashSet[Long] = {
    val cells = scala.collection.mutable.LinkedHashSet.empty[Long]
    val angle = reachM / Geo.EarthRadiusMeters
    samplePath(lats, lngs, level) { (la, lo) =>
      S2.coveringAtLevel(S2.Cap(Geo.toXYZ(la, lo), angle), level).foreach(cells += _)
    }
    cells
  }

  /** IntersectsPolyline as a DISTRIBUTED crossing join (SURVEY §2.2;
    * reference spatial.go:425-514, deliberately keeping its documented
    * boundary-crossing approximation for areas): which paths strictly cross
    * which region SHELL boundaries.
    *
    * Prune (sound, equi-join only, at level L = 14): the path side samples
    * each segment every h = cellEdge(L)/2 meters and emits, for every
    * level-L cell intersecting cap(sample, h/2 + slack), the cell AND its
    * coarser ancestors; the region side emits each covering cell clamped to
    * L (deeper cells take their level-L parent) and is broadcast. A
    * crossing point lies on the path AND inside the region, so its sample's
    * inflated covering meets the region covering at some shared cell id.
    * Exact refine: pairwise great-circle arc crossings against the CLOSED
    * shell.
    *
    * @return (path_id, region_id) one row per crossing pair. */
  def crossingJoin(paths: DataFrame, regions: DataFrame): DataFrame = {
    val level = CrossingLevel
    val reachM = sampleStepMeters(level) / 2.0 * 1.05 + 1.0
    val pathCellsUdf = udf((lats: Seq[Double], lngs: Seq[Double]) => {
      val cells = scala.collection.mutable.LinkedHashSet.empty[Long]
      capCover(lats, lngs, level, reachM).foreach { c =>
        var l = level
        while (l >= 0 && cells.add(S2.parent(c, l))) l -= 1
      }
      cells.toArray
    })
    val clampUdf = udf((c: Long) =>
      if (S2.level(c) > level) S2.parent(c, level) else c)
    val crossesClosed = udf((pLat: Seq[Double], pLng: Seq[Double],
                             rLat: Seq[Double], rLng: Seq[Double]) =>
      polylinesCross(pLat.toArray, pLng.toArray,
        (rLat :+ rLat.head).toArray, (rLng :+ rLng.head).toArray))
    val pathSide = paths
      .withColumn("cell", explode(pathCellsUdf(col("lats"), col("lngs"))))
    val regionSide = regions
      .select(col("region_id"), col("rings_lat"), col("rings_lng"),
        explode(col("cells")).as("rcell"))
      .withColumn("cell", clampUdf(col("rcell")))
      .dropDuplicates("region_id", "cell")
    pathSide.join(broadcast(regionSide), "cell")
      .dropDuplicates("path_id", "region_id")
      .where(crossesClosed(col("lats"), col("lngs"),
        col("rings_lat")(0), col("rings_lng")(0)))
      .select(col("path_id"), col("region_id"))
  }

  /** Path `join` (reference api/functions/features.go:440-456): concatenate
    * b after a, dropping b's first vertex when it equals a's last. */
  def joinPathsKernel(aLat: Array[Double], aLng: Array[Double],
                      bLat: Array[Double], bLng: Array[Double])
      : (Array[Double], Array[Double]) = {
    val skip =
      if (aLat.nonEmpty && bLat.nonEmpty &&
        bLat(0) == aLat(aLat.length - 1) && bLng(0) == aLng(aLng.length - 1)) 1
      else 0
    (aLat ++ bLat.drop(skip), aLng ++ bLng.drop(skip))
  }

  /** Path `ordered-join` (features.go:458-494): join a then b, reversing
    * either so the shared end vertex lines up; the shared vertex is emitted
    * once. None when the paths share no end vertex (the reference errors). */
  def orderedJoinKernel(aLat: Array[Double], aLng: Array[Double],
                        bLat: Array[Double], bLng: Array[Double])
      : Option[(Array[Double], Array[Double])] = {
    val aN = aLat.length; val bN = bLat.length
    if (aN == 0 || bN == 0) return None
    def pe(x1: Double, y1: Double, x2: Double, y2: Double) = x1 == x2 && y1 == y2
    val orient =
      if (pe(aLat(aN - 1), aLng(aN - 1), bLat(0), bLng(0))) Some((false, false))
      else if (pe(aLat(aN - 1), aLng(aN - 1), bLat(bN - 1), bLng(bN - 1))) Some((false, true))
      else if (pe(aLat(0), aLng(0), bLat(0), bLng(0))) Some((true, false))
      else if (pe(aLat(0), aLng(0), bLat(bN - 1), bLng(bN - 1))) Some((true, true))
      else None
    orient.map { case (ra, rb) =>
      val al = if (ra) aLat.reverse else aLat
      val ag = if (ra) aLng.reverse else aLng
      val bl = if (rb) bLat.reverse else bLat
      val bg = if (rb) bLng.reverse else bLng
      (al ++ bl.drop(1), ag ++ bg.drop(1))
    }
  }

  /** Dataset form of ordered-join over (a_lats, a_lngs, b_lats, b_lngs)
    * columns: adds `j_lats`/`j_lngs` (null when the paths don't connect). */
  def orderedJoinPaths(pairs: DataFrame): DataFrame = {
    val oj = udf((aLat: Seq[Double], aLng: Seq[Double],
                  bLat: Seq[Double], bLng: Seq[Double]) =>
      orderedJoinKernel(aLat.toArray, aLng.toArray, bLat.toArray, bLng.toArray)
        .map { case (la, lo) => (la.toSeq, lo.toSeq) })
    pairs.withColumn("j",
        oj(col("a_lats"), col("a_lngs"), col("b_lats"), col("b_lngs")))
      .withColumn("j_lats", col("j._1")).withColumn("j_lngs", col("j._2"))
      .drop("j")
  }

  /** Vertex table of the path set: one row per (path, vertex index). */
  def vertices(paths: DataFrame): DataFrame =
    paths
      .withColumn("i", explode(transform(col("lats"), (_, i) => i)))
      .select(col("path_id"), col("i").as("vertex_idx"),
        col("lats")(col("i")).as("lat"), col("lngs")(col("i")).as("lng"))

  /** degree (features.go:216-223): number of path-segment endpoints meeting
    * at each shared vertex — groupBy over the vertex table. */
  def degree(paths: DataFrame): DataFrame =
    vertices(paths)
      .groupBy("lat", "lng")
      .agg(count(lit(1)).as("degree"))

  /** point-paths (features.go:366-377): which paths pass through a given
    * vertex — a membership join on the vertex position. */
  def pointPaths(paths: DataFrame, lat: Double, lng: Double): DataFrame =
    vertices(paths)
      .where(col("lat") === lat && col("lng") === lng)
      .select("path_id").distinct()

  /** connect-to-network: for each point, the nearest path within
    * `maxDistMeters`, pruned by a SOUND shared-cell equi-join (no offset-grid
    * heuristic — ADVICE r01): the broadcast path side emits, for every
    * sample taken at most h = cellEdge(L)/2 meters apart along each segment
    * (L = 12), ALL level-L cells intersecting cap(sample, maxDist + h/2 +
    * slack) (S2.coveringAtLevel is may-intersect sound). A point p within
    * maxDist of the path is within maxDist + h/2 (+ slack for the
    * lat/lng-linear sample walk) of some sample, so p's own level-L cell
    * intersects that sample's cap and the equi-join keeps the pair. No
    * segment-length precondition.
    *
    * @param points (id, lat, lng, cell16)
    * @param paths  (path_id, lats ARRAY<DOUBLE>, lngs ARRAY<DOUBLE>)
    * @return (id, path_id, dist_m) one row per point with a match. */
  def nearestPathJoin(points: DataFrame, paths: DataFrame,
                      maxDistMeters: Double): DataFrame =
    pathCandidates(points, paths, maxDistMeters)
      .withColumn("rn", row_number().over(
        Window.partitionBy("id").orderBy(col("dist_m"), col("path_id"))))
      .where(col("rn") === 1)
      .select(col("id"), col("path_id"), col("dist_m"))

  /** [[pathCandidates]]' path covering: the level-12 cells within
    * maxDist + h/2 + slack of the path's samples. */
  private[graft] def candidateCover(lats: Seq[Double], lngs: Seq[Double],
                                    maxDistMeters: Double): Array[Long] = {
    val reachM = maxDistMeters + sampleStepMeters(CandidateLevel) / 2.0 +
      0.02 * maxDistMeters + 1.0
    capCover(lats, lngs, CandidateLevel, reachM).toArray
  }

  /** ALL (point, path) pairs within `maxDistMeters` — the shared sound
    * candidate join under [[nearestPathJoin]] (min per point) and
    * [[graft.ops.MapMatch]] (full per-point candidate sets for the Viterbi
    * DP). Exactly-once per pair by construction: each probe point carries
    * ONE level-12 cell and each path's covering is deduplicated, so the
    * equi-join can produce at most one row per (point, path). Output: every
    * input point column plus (path_id, dist_m); points/paths beyond the
    * radius produce no row. */
  private[graft] def pathCandidates(points: DataFrame, paths: DataFrame,
                                    maxDistMeters: Double): DataFrame = {
    val coverUdf = udf((lats: Seq[Double], lngs: Seq[Double]) =>
      candidateCover(lats, lngs, maxDistMeters))
    val pathCells = paths
      .withColumn("pcell", explode(coverUdf(col("lats"), col("lngs"))))
    val probes = points.withColumn("pcell",
      graft.functions.S2Expressions.s2Ancestors(col("cell16"), Array(CandidateLevel))(0))
    probes.join(broadcast(pathCells), "pcell")
      .withColumn("dist_m", distToPolyline(col("lat"), col("lng"), col("lats"), col("lngs")))
      .where(col("dist_m") <= maxDistMeters)
      .drop("pcell", "lats", "lngs")
  }

  /** Nearest point of the polyline to (lat,lng): (lat', lng', meters) —
    * s2.Polyline.Project semantics (the reference's projection primitive,
    * api/functions/geometry.go:100-122). */
  def projectToPolylineMeters(lat: Double, lng: Double,
                              pLats: Array[Double], pLngs: Array[Double])
      : (Double, Double, Double) = {
    // loud precondition instead of an opaque executor NPE on bestP below
    // (review r03): an empty polyline has no nearest point
    require(pLats.nonEmpty && pLngs.length == pLats.length,
      s"projectToPolylineMeters: empty/ragged polyline (${pLats.length}/${pLngs.length} vertices)")
    if (pLats.length == 1)
      return (pLats(0), pLngs(0), Geo.haversineMeters(lat, lng, pLats(0), pLngs(0)))
    val x = Geo.toXYZ(lat, lng)
    var best = Double.MaxValue
    var bestP: Array[Double] = null
    var i = 1
    while (i < pLats.length) {
      val a = Geo.toXYZ(pLats(i - 1), pLngs(i - 1))
      val b = Geo.toXYZ(pLats(i), pLngs(i))
      val p = Geo.closestPointOnArc(x, a, b)
      val d = Geo.angleBetween(x, p) * Geo.EarthRadiusMeters
      if (d < best) { best = d; bestP = p }
      i += 1
    }
    val (la, lo) = Geo.toLatLng(bestP)
    (la, lo, best)
  }

  /** Nearest point of the polyline with its ALONG-LENGTH fraction:
    * (lat', lng', meters, frac) — frac in [0,1] of the polyline's haversine
    * length before the projection, the split-edge cost fraction for
    * projected routing (VERDICT r04 #3; the reference's connection-point
    * insertion, graph/connectivity.go:561-703). Same arc kernel as
    * [[projectToPolylineMeters]]; equidistant segments keep the EARLIEST
    * (strict `<`), deterministic and golden-mirrored. */
  def projectToPolylineFrac(lat: Double, lng: Double,
                            pLats: Array[Double], pLngs: Array[Double])
      : (Double, Double, Double, Double) = {
    require(pLats.length >= 2 && pLngs.length == pLats.length,
      s"projectToPolylineFrac: need >= 2 vertices (${pLats.length}/${pLngs.length})")
    val x = Geo.toXYZ(lat, lng)
    var best = Double.MaxValue
    var bestP: Array[Double] = null
    var bestA: Array[Double] = null
    var bestPrefix = 0.0
    var prefix = 0.0
    var i = 1
    while (i < pLats.length) {
      val a = Geo.toXYZ(pLats(i - 1), pLngs(i - 1))
      val b = Geo.toXYZ(pLats(i), pLngs(i))
      val p = Geo.closestPointOnArc(x, a, b)
      val d = Geo.angleBetween(x, p) * Geo.EarthRadiusMeters
      if (d < best) { best = d; bestP = p; bestA = a; bestPrefix = prefix }
      prefix += Geo.haversineMeters(pLats(i - 1), pLngs(i - 1), pLats(i), pLngs(i))
      i += 1
    }
    val along = bestPrefix + Geo.angleBetween(bestA, bestP) * Geo.EarthRadiusMeters
    val frac = math.max(0.0, math.min(1.0, if (prefix > 0) along / prefix else 0.0))
    val (la, lo) = Geo.toLatLng(bestP)
    (la, lo, best, frac)
  }

  /** snap-area-edges kernel (reference api/functions/geometry.go:89-167
    * snapAreaEdges/projectEdgesOntoPolylines/filterShortEdges): per ring
    * edge, project BOTH endpoints onto each candidate polyline and take the
    * polyline minimizing the worse endpoint distance, when that distance is
    * under `thresholdM`; drop edges shorter than `joinM`; stitch the edge
    * chain back into a ring, keeping a snapped edge's far endpoint only when
    * it is not within `joinM` of the next edge's start.
    *
    * Documented divergence from the reference: where two consecutive snapped
    * edges leave a corner gap, the reference inserts the intersection of the
    * threshold-extended edges when they cross (geometry.go:146-155); this
    * kernel keeps both endpoints instead — the stitched ring is identical
    * except at such corners, which gain one extra vertex. Falls back to the
    * original ring when stitching degenerates below 3 vertices (the
    * reference's Loop.Validate fallback, geometry.go:158-162).
    *
    * @return (snapped ring lats, lngs, number of edges that snapped). */
  def snapRingKernel(ringLat: Array[Double], ringLng: Array[Double],
                     cands: Array[(Array[Double], Array[Double])],
                     thresholdM: Double, joinM: Double)
      : (Array[Double], Array[Double], Int) = {
    val n = ringLat.length
    val e0La = new Array[Double](n); val e0Lo = new Array[Double](n)
    val e1La = new Array[Double](n); val e1Lo = new Array[Double](n)
    var snapped = 0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      var bestD = thresholdM
      var hit = false
      e0La(i) = ringLat(i); e0Lo(i) = ringLng(i)
      e1La(i) = ringLat(j); e1Lo(i) = ringLng(j)
      cands.foreach { case (pla, plo) =>
        val (q0la, q0lo, d0) = projectToPolylineMeters(ringLat(i), ringLng(i), pla, plo)
        val (q1la, q1lo, d1) = projectToPolylineMeters(ringLat(j), ringLng(j), pla, plo)
        val dmax = math.max(d0, d1)
        if (dmax < bestD) {
          bestD = dmax; hit = true
          e0La(i) = q0la; e0Lo(i) = q0lo
          e1La(i) = q1la; e1Lo(i) = q1lo
        }
      }
      if (hit) snapped += 1
      i += 1
    }
    val kept = (0 until n).filter(k =>
      Geo.haversineMeters(e0La(k), e0Lo(k), e1La(k), e1Lo(k)) > joinM).toArray
    val outLa = scala.collection.mutable.ArrayBuffer.empty[Double]
    val outLo = scala.collection.mutable.ArrayBuffer.empty[Double]
    var k = 0
    while (k < kept.length) {
      val e = kept(k)
      val nx = kept((k + 1) % kept.length)
      outLa += e0La(e); outLo += e0Lo(e)
      if (Geo.haversineMeters(e1La(e), e1Lo(e), e0La(nx), e0Lo(nx)) > joinM) {
        outLa += e1La(e); outLo += e1Lo(e)
      }
      k += 1
    }
    if (outLa.length >= 3) (outLa.toArray, outLo.toArray, snapped)
    else (ringLat, ringLng, 0)
  }

  /** snap-area-edges as a Spark operator (SURVEY §2.3; reference
    * api/functions/geometry.go:124-167): snap each region's shell ring onto
    * nearby paths within `thresholdMeters`.
    *
    * Prune (sound, equi-join at level L = 13): the broadcast path side
    * emits every level-L cell within reach = threshold + sample spacing +
    * slack of its segment samples; the region side emits the plain level-L
    * cells of its ring samples. A ring point within threshold of a path is
    * within reach of some path sample, so its cell is emitted by both sides.
    * The reference's buffered-cap MightIntersect probe (geometry.go:130-134)
    * is the same inflation expressed against its token index. Refinement
    * happens inside the kernel (projections beyond the threshold never
    * replace an edge).
    *
    * @param regions (region_id, rings_lat, rings_lng) — shell ring snapped
    * @param paths   (path_id, lats, lngs)
    * @return (region_id, s_lat, s_lng, n_snapped). */
  def snapAreaEdges(regions: DataFrame, paths: DataFrame, thresholdMeters: Double,
                    joinThresholdMeters: Double = 0.1,
                    maxCandidates: Int = 10000): DataFrame = {
    val level = SnapLevel
    val reachM = thresholdMeters + sampleStepMeters(level) + 0.02 * thresholdMeters + 1.0
    val pathCover = udf((lats: Seq[Double], lngs: Seq[Double]) =>
      capCover(lats, lngs, level, reachM).toArray)
    val ringCells = udf((lats: Seq[Double], lngs: Seq[Double]) =>
      sampleCells(lats, lngs, level, closed = true))
    // a path with no vertices has no geometry to snap to — drop it here
    // rather than crash in projectToPolylineMeters
    val pathSide = paths
      .where(size(col("lats")) > 0 && size(col("lngs")) === size(col("lats")))
      .withColumn("cell", explode(pathCover(col("lats"), col("lngs"))))
    // symmetric guard for the region side (same crash class as the path-side
    // guard above): a row with no rings — or a ragged first ring — has no
    // shell to snap, drop it instead of NPE-ing in the UDFs below
    val shells = regions
      .where(size(col("rings_lat")) > 0 && size(col("rings_lng")) > 0 &&
        size(col("rings_lat")(0)) === size(col("rings_lng")(0)))
      .select(col("region_id"), col("rings_lat")(0).as("r_lat"), col("rings_lng")(0).as("r_lng"))
    val regionSide = shells
      .withColumn("cell", explode(ringCells(col("r_lat"), col("r_lng"))))
    // candidates carry path_id and are SORTED by it before the kernel loop:
    // collect_list order is partitioning-dependent, and snapRingKernel keeps
    // the FIRST of dmax-tied candidates, so an unsorted list would make the
    // snapped coordinates run-dependent (review r03b)
    val cands = regionSide.join(broadcast(pathSide), "cell")
      .dropDuplicates("region_id", "path_id")
      .groupBy("region_id")
      .agg(sort_array(collect_list(
        struct(col("path_id"), col("lats"), col("lngs")))).as("cand"))
    val snapUdf = udf((rLat: Seq[Double], rLng: Seq[Double],
                       cand: Seq[org.apache.spark.sql.Row]) => {
      val cs = Option(cand).getOrElse(Seq.empty).map(r =>
        (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)).toArray
      // loud density bound (the sightline maxBarriers pattern): the per-ring
      // kernel is O(edges * candidates); a pathological path density fails
      // instead of grinding inside one task
      if (cs.length > maxCandidates)
        throw new IllegalStateException(
          s"snapAreaEdges: ${cs.length} candidate paths for one region exceed " +
            s"maxCandidates=$maxCandidates; shrink the threshold or raise the bound")
      snapRingKernel(rLat.toArray, rLng.toArray, cs,
        thresholdMeters, joinThresholdMeters)
    })
    shells
      .join(cands, Seq("region_id"), "left")
      .withColumn("s", snapUdf(col("r_lat"), col("r_lng"), col("cand")))
      .select(col("region_id"), col("s._1").as("s_lat"), col("s._2").as("s_lng"),
        col("s._3").as("n_snapped"))
  }
}
