package graft.ops

import graft.core.{Geo, S2}

/** A point-containment probe usable from the native codegen expression
  * (`ContainmentProbeExpr`): cell + exact coordinates -> region ordinals.
  * Holds the regions' rings and the one exact even-odd ray cast every
  * index refines with. Implementations ship to executors via the
  * expression's reference array. */
abstract class PointProbe(regions: Array[graft.model.Synth.Region])
    extends Serializable {
  def probe(cell: Long, lat: Double, lng: Double): Array[Int]

  val regionIds: Array[String] = regions.map(_.regionId)

  private val ringsLat: Array[Array[Array[Double]]] = regions.map(_.rings.map(_._1))
  private val ringsLng: Array[Array[Array[Double]]] = regions.map(_.rings.map(_._2))

  protected final val EmptyInts = Array.empty[Int]

  final def contains(ri: Int, lat: Double, lng: Double): Boolean = {
    var odd = false
    val rl = ringsLat(ri); val rg = ringsLng(ri)
    var k = 0
    while (k < rl.length) {
      if (Geo.containsPlanar(lat, lng, rl(k), rg(k))) odd = !odd
      k += 1
    }
    odd
  }
}

/** Serializable, allocation-free containment probe index: the b6 per-point
  * index probe (api/functions/features.go:96-113) as flat primitive arrays.
  *
  * Layout: the covering cells' leaf ranges `[rangeMin, rangeMax]` cut the
  * id line into disjoint elementary ranges; `starts` holds their first ids,
  * sorted, and `offsets(i)..offsets(i+1)` in `cands` are the region
  * ordinals of every covering cell that holds range i: level ascending,
  * then region ordinal (a region listed by two of its cells appears
  * twice). A probe is ONE binary search plus exact ray-casts over that
  * list — zero boxing, zero allocation on the (overwhelmingly common)
  * no-match path. Covering levels must be <= 16: the probe key is the
  * point's level-16 cell, which lies in a coarser cell's leaf range exactly
  * when that cell is its ancestor. Ships to executors inside the
  * expression's reference array. */
final class ProbeIndex(regions: Array[graft.model.Synth.Region])
    extends PointProbe(regions) {

  regions.foreach { r =>
    r.cells.foreach { c =>
      require(S2.level(c) <= 16,
        s"ProbeIndex: region ${r.regionId} has a covering cell at level " +
          s"${S2.level(c)}; the probe keys on level-16 cells, so covering " +
          "levels must be <= 16")
    }
  }

  private val (starts, offsets, cands): (Array[Long], Array[Int], Array[Int]) = {
    val byCell = scala.collection.mutable.TreeMap.empty[Long, List[Int]]
    regions.zipWithIndex.foreach { case (r, i) =>
      r.cells.foreach(c => byCell(c) = i :: byCell.getOrElse(c, Nil))
    }
    val levels = byCell.keys.map(S2.level).toArray.distinct.sorted
    // Long.MinValue opens the (empty) range below every cell, so every id
    // has a range; a range ending at Long.MaxValue has no successor (cell
    // ranges never cross the signed wrap, which sits between faces 3 and 4)
    val bounds = scala.collection.mutable.TreeSet(Long.MinValue)
    byCell.keys.foreach { c =>
      bounds += S2.rangeMin(c)
      if (S2.rangeMax(c) != Long.MaxValue) bounds += S2.rangeMax(c) + 1
    }
    val st = bounds.toArray
    val off = new Array[Int](st.length + 1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < st.length) {
      off(i) = buf.length
      val x = st(i)
      levels.foreach { l =>
        val c = S2.parent(x, l)
        if (S2.rangeMin(c) <= x && x <= S2.rangeMax(c))
          byCell.get(c).foreach(_.reverse.foreach(buf += _))
      }
      i += 1
    }
    off(st.length) = buf.length
    (st, off, buf.toArray)
  }

  /** Region ordinals containing the point; EmptyInts when none. */
  def probe(cell16: Long, lat: Double, lng: Double): Array[Int] = {
    val idx = java.util.Arrays.binarySearch(starts, cell16)
    val range = if (idx >= 0) idx else -idx - 2
    val from = offsets(range); val to = offsets(range + 1)
    var n = 0
    var first = -1
    var c = from
    while (c < to) {
      val ri = cands(c)
      if (contains(ri, lat, lng)) { n += 1; if (first < 0) first = ri }
      c += 1
    }
    if (n == 0) EmptyInts
    else if (n == 1) Array(first)
    else {
      val out = new Array[Int](n)
      var w = 0
      c = from
      while (c < to) {
        val ri = cands(c)
        if (contains(ri, lat, lng)) { out(w) = ri; w += 1 }
        c += 1
      }
      out
    }
  }
}

/** The Hex7 twin of `ProbeIndex`: per-region size-adaptive hex coverings
  * (coarsest resolution whose estimated covering stays under ~400 cells,
  * same rule as the UDF path it replaces), flat sorted-array layout, probe =
  * |resolutions| binary searches + exact ray-casts. Hex7 ids encode their
  * resolution, so a region is only ever discovered at its own covering
  * resolution — no cross-resolution dedup needed. */
final class Hex7ProbeIndex(regions: Array[graft.model.Synth.Region], imageRes: Int)
    extends PointProbe(regions) {
  import graft.core.Hex7

  private def resFor(r: graft.model.Synth.Region): Int = {
    val lats = r.rings(0)._1; val lngs = r.rings(0)._2
    val extDeg = math.max(lats.max - lats.min,
      (lngs.max - lngs.min) * math.cos(math.toRadians(lats.head)))
    var res = imageRes
    while (res > 1 &&
      math.pow(extDeg / math.toDegrees(Hex7.edgeLen(res)), 2) > 400) res -= 1
    res
  }

  // one resolution derivation per region, shared by the level set and the
  // covering build (review r03e: resFor re-scans ring extents)
  private val regionRes: Array[Int] = regions.map(resFor)
  val resolutions: Array[Int] = regionRes.distinct.sorted

  private val (cells, offsets, cands): (Array[Long], Array[Int], Array[Int]) = {
    val byCell = scala.collection.mutable.TreeMap.empty[Long, List[Int]]
    regions.zipWithIndex.foreach { case (r, i) =>
      Hex7.polygonCovering(r.rings(0)._1, r.rings(0)._2, regionRes(i))
        .foreach(c => byCell(c) = i :: byCell.getOrElse(c, Nil))
    }
    val cs = byCell.keys.toArray
    val off = new Array[Int](cs.length + 1)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < cs.length) {
      off(i) = buf.length
      byCell(cs(i)).reverse.foreach(buf += _)
      i += 1
    }
    off(cs.length) = buf.length
    (cs, off, buf.toArray)
  }

  def probe(hex: Long, lat: Double, lng: Double): Array[Int] = {
    var out: List[Int] = Nil
    var ri = 0
    while (ri < resolutions.length) {
      val idx = java.util.Arrays.binarySearch(cells, Hex7.parent(hex, resolutions(ri)))
      if (idx >= 0) {
        var c = offsets(idx)
        while (c < offsets(idx + 1)) {
          val reg = cands(c)
          if (contains(reg, lat, lng) && !out.contains(reg)) out = reg :: out
          c += 1
        }
      }
      ri += 1
    }
    if (out.isEmpty) EmptyInts else out.toArray
  }
}

object ProbeIndex {
  /** Packed tile chain (shared by the native expression): TileIDs from zMax
    * down to zMin for a point. */
  def tileChain(lat: Double, lng: Double, zMin: Int, zMax: Int): Array[Long] = {
    var (x, y) = graft.core.Tiles.tileFromLatLng(lat, lng, zMax)
    val out = new Array[Long](zMax - zMin + 1)
    var z = zMax
    while (z >= zMin) {
      out(zMax - z) = graft.core.Tiles.tileId(x, y, z)
      x /= 2; y /= 2; z -= 1
    }
    out
  }
}
