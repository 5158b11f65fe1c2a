package graft

import graft.core.{Geo, S2}
import graft.model.Synth
import graft.model.Synth.Region
import graft.ops.ProbeIndex
import org.scalatest.funsuite.AnyFunSuite

/** `ProbeIndex` (one binary search over elementary leaf ranges) against the
  * per-level probe it replaced, inlined below: the same region ordinals in
  * the same order, duplicates included, at every covering cell's range
  * bounds, centre and neighbouring leaves. */
class ProbeIndexSpec extends AnyFunSuite {

  /** The per-level probe: one binary search per covering level over the
    * sorted covering cells, candidates in level order. */
  private final class PerLevelProbe(regions: Array[Region]) {
    private val index = new ProbeIndex(regions) // reused for its ray cast
    val levels: Array[Int] = regions.flatMap(_.cells.map(S2.level)).distinct.sorted
    private val (cells, offsets, cands): (Array[Long], Array[Int], Array[Int]) = {
      val byCell = scala.collection.mutable.TreeMap.empty[Long, List[Int]]
      regions.zipWithIndex.foreach { case (r, i) =>
        r.cells.foreach(c => byCell(c) = i :: byCell.getOrElse(c, Nil))
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

    def probe(cell16: Long, lat: Double, lng: Double): Array[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      levels.foreach { l =>
        val idx = java.util.Arrays.binarySearch(cells, S2.parent(cell16, l))
        if (idx >= 0)
          (offsets(idx) until offsets(idx + 1)).foreach { c =>
            if (index.contains(cands(c), lat, lng)) out += cands(c)
          }
      }
      out.toArray
    }
  }

  private def leafLatLng(leaf: Long): (Double, Double) = Geo.toLatLng(S2.centerXYZ(leaf))

  /** Probe keys: each covering cell's rangeMin, rangeMax and centre leaf,
    * the leaves on either side of each, and the level-16 cells holding
    * them; ids off the six faces are dropped. */
  private def keys(regions: Array[Region]): Array[Long] =
    regions.flatMap(_.cells).distinct.flatMap { c =>
      val leaves = Seq(S2.rangeMin(c), S2.rangeMax(c), c + 1)
        .flatMap(l => Seq(l - 2, l, l + 2))
        .filter(l => java.lang.Long.compareUnsigned(l, 6L << 61) < 0)
      leaves ++ leaves.map(S2.parent(_, 16))
    }.distinct

  /** Probes every key at its own position and at a point inside each
    * region; returns how many probes ran and the first mismatches. */
  private def compare(regions: Array[Region]): (Int, Int, Seq[String]) = {
    val fast = new ProbeIndex(regions)
    val ref = new PerLevelProbe(regions)
    val inside = regions.map { r =>
      val (lats, lngs) = r.rings(0)
      (lats.sum / lats.length, lngs.sum / lngs.length)
    }
    var probes = 0
    var multi = 0
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    keys(regions).foreach { k =>
      val own = if (S2.isLeaf(k)) leafLatLng(k) else leafLatLng(S2.rangeMin(k))
      (own +: inside).foreach { case (lat, lng) =>
        val got = fast.probe(k, lat, lng)
        val want = ref.probe(k, lat, lng)
        probes += 1
        if (want.length > 1) multi += 1
        if (!got.sameElements(want) && misses.length < 5)
          misses += s"key ${S2.token(k)} at ($lat, $lng): got ${got.mkString(",")} want ${want.mkString(",")}"
      }
    }
    (probes, multi, misses.toSeq)
  }

  private def square(id: String, latLo: Double, latHi: Double, lngLo: Double, lngHi: Double,
                     cells: Array[Long] => Array[Long] = identity): Region = {
    val shell = (Array(latLo, latLo, latHi, latHi), Array(lngLo, lngHi, lngHi, lngLo))
    Region(id, "test", "test", Array(shell), cells(S2.covering(S2.Poly(shell._1, shell._2))))
  }

  /** Three nested squares whose coverings nest across regions; a region
    * that also lists two descendants of its own covering (so it is found up
    * to three times); a twin of the outer square; a level-16 covering; and
    * regions holding the face-3 and face-5 root cells, which end the valid
    * ids in signed and unsigned order. */
  private val nested: Array[Region] = {
    val face3 = S2.parent(3L << 61 | 1L, 0)
    val face5 = S2.parent(5L << 61 | 1L, 0)
    Array(
      square("outer", 40.0, 41.0, 10.0, 11.0),
      square("middle", 40.3, 40.7, 10.3, 10.7),
      square("inner", 40.45, 40.55, 10.45, 10.55),
      square("self-nested", 40.4, 40.6, 10.4, 10.6,
        cs => cs ++ Seq(12, 14).map(S2.cellAt(40.52, 10.52, _))),
      square("outer-twin", 40.0, 41.0, 10.0, 11.0),
      Region("fine", "test", "test",
        Array((Array(40.5, 40.5, 40.5001, 40.5001), Array(10.5, 10.5001, 10.5001, 10.5))),
        S2.coveringAtLevel(S2.Poly(Array(40.5, 40.5, 40.5001, 40.5001),
          Array(10.5, 10.5001, 10.5001, 10.5)), 16)),
      square("face3", 0.0, 1.0, 179.0, 179.9, _ => Array(face3)),
      square("face5", -89.0, -88.0, 0.0, 1.0, _ => Array(face5)))
  }

  test("single-search probe equals the per-level probe on Synth.regions") {
    val (probes, _, misses) = compare(Synth.regions)
    assert(misses.isEmpty, misses.mkString("; "))
    assert(probes > 10000)
  }

  test("single-search probe equals the per-level probe on the court and degen regions") {
    val (probes, multi, misses) = compare(Synth.courtyardRegions ++ Synth.degenRegions)
    assert(misses.isEmpty, misses.mkString("; "))
    assert(probes > 1000 && multi > 0)
  }

  test("single-search probe equals the per-level probe where coverings nest") {
    val (probes, multi, misses) = compare(nested)
    assert(misses.isEmpty, misses.mkString("; "))
    assert(probes > 1000 && multi > 0)
    // a point in all five squares: the self-nested region once per cell of
    // its own that holds the point
    val (lat, lng) = (40.52, 10.52)
    val cell = S2.cellAt(lat, lng, 16)
    val got = new ProbeIndex(nested).probe(cell, lat, lng)
    assert(got.sameElements(new PerLevelProbe(nested).probe(cell, lat, lng)))
    assert(got.distinct.sorted.sameElements(Array(0, 1, 2, 3, 4)))
    assert(got.count(_ == 3) == 3)
  }

  test("single-search probe equals the per-level probe at seeded level-16 cells") {
    val regions = Synth.regions ++ nested
    val fast = new ProbeIndex(regions)
    val ref = new PerLevelProbe(regions)
    val rnd = new java.util.SplittableRandom(16L)
    var hits = 0
    (0 until 200000).foreach { i =>
      val (lat, lng) =
        if (i % 2 == 0) (math.toDegrees(math.asin(rnd.nextDouble(-1.0, 1.0))), rnd.nextDouble(-180.0, 180.0))
        else {
          val (lats, lngs) = regions(i % regions.length).rings(0)
          (rnd.nextDouble(lats.min - 0.1, lats.max + 0.1), rnd.nextDouble(lngs.min - 0.1, lngs.max + 0.1))
        }
      val cell = S2.cellAt(lat, lng, 16)
      val got = fast.probe(cell, lat, lng)
      assert(got.sameElements(ref.probe(cell, lat, lng)), s"($lat, $lng)")
      if (got.nonEmpty) hits += 1
    }
    assert(hits > 10000)
  }

  test("a covering cell deeper than level 16 is rejected with the region and level named") {
    val deep = square("too-deep", 40.5, 40.5001, 10.5, 10.5001,
      cs => cs :+ S2.cellAt(40.50005, 10.50005, 17))
    val e = intercept[IllegalArgumentException](new ProbeIndex(Synth.regions :+ deep))
    assert(e.getMessage.contains("too-deep") && e.getMessage.contains("level 17"))
  }
}
