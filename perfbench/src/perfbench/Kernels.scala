package perfbench

import graft.core.{Geo, Hex7, S2}
import graft.model.Synth
import graft.ops.ProbeIndex

/** Hand-rolled single-thread kernel harness: a warm loop, then timed passes
  * over the same points, each result folded into a checksum that is
  * published so the JIT cannot drop the work. */
object Kernels {

  /** The published checksum (the blackhole). */
  @volatile var sink: Long = 0L

  final case class Points(lat: Array[Double], lng: Array[Double], cell: Array[Long]) {
    def size: Int = lat.length
  }

  /** ns per point of one kernel: the median of `reps` timed passes after
    * `warmNs` of untimed passes. */
  def nsPerPoint(pts: Points, warmNs: Long, reps: Int)(kernel: Int => Long): Double = {
    val n = pts.size
    def pass(): Long = {
      var acc = 0L
      var i = 0
      while (i < n) { acc = acc * 31 + kernel(i); i += 1 }
      acc
    }
    val warmEnd = System.nanoTime() + warmNs
    while (System.nanoTime() < warmEnd) sink ^= pass()
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      sink ^= pass()
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(times)
  }

  /** Prune and refine counts of the containment probe over the points,
    * computed from the public region coverings: a candidate is a
    * (point, region) pair whose covering holds an ancestor of the point's
    * level-16 cell; a match is a pair the brute-force ray cast accepts.
    * Returns (candidates, matches, matches that are not candidates). */
  def pruneCounts(pts: Points): (Long, Long, Long) = {
    val regions = Synth.regions
    val covers = regions.map(_.cells.map(c => (S2.level(c), c)))
    var cands, matches, missed = 0L
    var i = 0
    while (i < pts.size) {
      var r = 0
      while (r < regions.length) {
        val cell = pts.cell(i)
        val cand = covers(r).exists { case (lvl, c) => S2.parent(cell, lvl) == c }
        val hit = Geo.containsPlanarRings(pts.lat(i), pts.lng(i), regions(r).rings)
        if (cand) cands += 1
        if (hit) matches += 1
        if (hit && !cand) missed += 1
        r += 1
      }
      i += 1
    }
    (cands, matches, missed)
  }

  /** The core.* and ops.probe_ns layer metrics over the points. */
  def measure(pts: Points, warmNs: Long, reps: Int): Seq[(String, Stats.Metric)] = {
    val index = new ProbeIndex(Synth.regions)
    val rings = Synth.regions.map(_.rings)
    val nr = rings.length
    def ns(f: Int => Long) = nsPerPoint(pts, warmNs, reps)(f)
    val s2 = ns(i => S2.cellAt(pts.lat(i), pts.lng(i), 16))
    val hex = ns(i => Hex7.fromLatLngDegreesFast(pts.lat(i), pts.lng(i), 9))
    val tiles = ns(i => ProbeIndex.tileChain(pts.lat(i), pts.lng(i), 10, 14)(0))
    val ray = ns { i =>
      var hits = 0L
      var r = 0
      while (r < nr) {
        if (Geo.containsPlanarRings(pts.lat(i), pts.lng(i), rings(r))) hits += r + 1
        r += 1
      }
      hits
    } / nr
    val probe = ns(i => index.probe(pts.cell(i), pts.lat(i), pts.lng(i)).length.toLong)
    val (cands, matches, _) = pruneCounts(pts)
    def m(v: Double, unit: String) = Stats.Metric(v, unit, reps)
    Seq(
      "core.s2_encode_ns" -> m(s2, "ns"),
      "core.hex7_encode_ns" -> m(hex, "ns"),
      "core.tile_chain_ns" -> m(tiles, "ns"),
      "core.ray_cast_ns" -> m(ray, "ns"),
      "ops.probe_ns" -> m(probe, "ns"),
      "ops.probe_candidates" -> Stats.Metric(cands.toDouble, "count", pts.size),
      "ops.probe_matches" -> Stats.Metric(matches.toDouble, "count", pts.size),
      "ops.prune_ratio" -> Stats.Metric(
        if (cands == 0) 0.0 else matches.toDouble / cands, "ratio", pts.size))
  }
}
