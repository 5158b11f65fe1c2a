package graft

import graft.core.{Geo, PolyBool}
import org.scalatest.funsuite.AnyFunSuite

/** Greiner-Hormann polygon booleans: hand-computed vectors, the
  * Sutherland-Hodgman convex cross-check (an INDEPENDENT clipping
  * algorithm), and area-additivity sweeps over the region fixtures. */
class PolyBoolSpec extends AnyFunSuite {

  private def rect(latLo: Double, latHi: Double, lngLo: Double, lngHi: Double) =
    (Array(latLo, latLo, latHi, latHi), Array(lngLo, lngHi, lngHi, lngLo))

  private def areaOf(lat: Array[Double], lng: Array[Double]): Double =
    math.abs(PolyBool.signedArea(lat, lng))

  test("overlapping rectangles: intersection/union/difference areas exact") {
    val (aLat, aLng) = rect(0, 2, 0, 3)   // area 6
    val (bLat, bLng) = rect(1, 4, 1, 5)   // area 12, overlap = [1,2]x[1,3] = 2
    val inter = PolyBool.intersection(aLat, aLng, bLat, bLng)
    assert(inter.length == 1)
    assert(math.abs(PolyBool.totalArea(inter) - 2.0) < 1e-12)
    val uni = PolyBool.union(aLat, aLng, bLat, bLng)
    assert(math.abs(PolyBool.totalArea(uni) - (6 + 12 - 2)) < 1e-12)
    val diff = PolyBool.difference(aLat, aLng, bLat, bLng)
    assert(math.abs(PolyBool.totalArea(diff) - (6 - 2)) < 1e-12)
  }

  test("disjoint / containment cases") {
    val (aLat, aLng) = rect(0, 1, 0, 1)
    val (bLat, bLng) = rect(5, 6, 5, 6)
    assert(PolyBool.intersection(aLat, aLng, bLat, bLng).isEmpty)
    assert(math.abs(PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng)) - 2.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(PolyBool.difference(aLat, aLng, bLat, bLng)) - 1.0) < 1e-12)
    // b inside a
    val (oLat, oLng) = rect(0, 10, 0, 10)   // 100
    val (iLat, iLng) = rect(2, 4, 2, 4)     // 4
    assert(math.abs(PolyBool.totalArea(PolyBool.intersection(oLat, oLng, iLat, iLng)) - 4.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(PolyBool.union(oLat, oLng, iLat, iLng)) - 100.0) < 1e-12)
    // difference keeps the outer ring + a CW hole: signed areas add to 96
    val d = PolyBool.difference(oLat, oLng, iLat, iLng)
    assert(d.length == 2)
    assert(math.abs(PolyBool.totalArea(d) - 96.0) < 1e-12)
    // a inside b -> difference empty
    assert(PolyBool.difference(iLat, iLng, oLat, oLng).isEmpty)
  }

  test("plus-shape: crossing bars produce multi-ring difference") {
    val (hLat, hLng) = rect(4, 6, 0, 10)   // horizontal bar, area 20
    val (vLat, vLng) = rect(0, 10, 4, 6)   // vertical bar, area 20
    val inter = PolyBool.intersection(hLat, hLng, vLat, vLng)
    assert(inter.length == 1)
    assert(math.abs(PolyBool.totalArea(inter) - 4.0) < 1e-12) // center 2x2
    val uni = PolyBool.union(hLat, hLng, vLat, vLng)
    assert(math.abs(PolyBool.totalArea(uni) - 36.0) < 1e-12)
    val diff = PolyBool.difference(hLat, hLng, vLat, vLng)
    assert(diff.length == 2, s"left+right pieces, got ${diff.length}")
    assert(math.abs(PolyBool.totalArea(diff) - 16.0) < 1e-12)
  }

  test("non-convex subject: L-shape against a square") {
    // L = [0,3]x[0,3] minus the quadrant (lat>1 AND lng<2) => area 9-4=5
    val lLat = Array(0.0, 0.0, 3.0, 3.0, 1.0, 1.0)
    val lLng = Array(0.0, 3.0, 3.0, 2.0, 2.0, 0.0)
    assert(math.abs(areaOf(lLat, lLng) - 5.0) < 1e-12)
    // clip square overlapping the notch corner
    val (cLat, cLng) = rect(0.5, 2.5, 0.5, 2.5)   // area 4
    // L ∩ C = C minus lat(1,2.5)xlng(0.5,2) = 4 - 1.5*1.5 = 1.75
    val inter = PolyBool.intersection(lLat, lLng, cLat, cLng)
    assert(math.abs(PolyBool.totalArea(inter) - 1.75) < 1e-12)
    val uni = PolyBool.union(lLat, lLng, cLat, cLng)
    assert(math.abs(PolyBool.totalArea(uni) - (5.0 + 4.0 - 1.75)) < 1e-12)
    val diff = PolyBool.difference(lLat, lLng, cLat, cLng)
    assert(math.abs(PolyBool.totalArea(diff) - (5.0 - 1.75)) < 1e-12)
  }

  test("convex cross-check: GH intersection equals Sutherland-Hodgman clip") {
    // irregular convex clip hexagon vs an irregular convex subject pentagon
    val subLat = Array(0.0, -1.0, 0.5, 2.5, 2.0)
    val subLng = Array(0.0, 2.0, 4.0, 3.0, 0.5)
    val clpLat = Array(-0.5, 0.0, 1.5, 2.8, 2.0, 0.2)
    val clpLng = Array(1.5, 3.5, 4.2, 2.0, 0.2, 0.0)
    val gh = PolyBool.totalArea(PolyBool.intersection(subLat, subLng, clpLat, clpLng))
    val (shLat, shLng) = Geo.clipRing(subLat, subLng, clpLat, clpLng)
    val sh = areaOf(shLat, shLng)
    assert(math.abs(gh - sh) < 1e-10, s"GH $gh vs SH $sh")
    assert(gh > 0.1)
  }

  test("random convex pairs: GH equals Sutherland-Hodgman across 60 seeds") {
    import graft.core.Hashes
    // deterministic convex ring: convex hull of 12 seeded random points
    def convexRing(seed: Long): (Array[Double], Array[Double]) = {
      def u(i: Long) = (Hashes.splitmix64(seed * 1000 + i) >>> 11).toDouble / (1L << 53).toDouble
      val lat = Array.tabulate(12)(i => u(i * 2) * 4.0)
      val lng = Array.tabulate(12)(i => u(i * 2 + 1) * 4.0)
      val idx = Geo.convexHull(lat, lng)
      (idx.map(lat(_)), idx.map(lng(_)))
    }
    var checked = 0
    (0 until 60).foreach { s =>
      val (aLat, aLng) = convexRing(s * 2 + 1)
      // shift the second ring so overlap is frequent but not guaranteed
      val (bLat0, bLng0) = convexRing(s * 2 + 2)
      val bLat = bLat0.map(_ + 1.0); val bLng = bLng0.map(_ + 1.0)
      if (aLat.length >= 3 && bLat.length >= 3) {
        val gh = PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng))
        val (sLat, sLng) = Geo.clipRing(aLat, aLng, bLat, bLng)
        val sh = if (sLat.length >= 3) areaOf(sLat, sLng) else 0.0
        assert(math.abs(gh - sh) < 1e-9 * math.max(1.0, sh),
          s"seed $s: GH $gh vs SH $sh")
        if (gh > 0) checked += 1
        // additivity on the same pair
        val aA = areaOf(aLat, aLng); val aB = areaOf(bLat, bLng)
        val uni = PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng))
        val dif = PolyBool.totalArea(PolyBool.difference(aLat, aLng, bLat, bLng))
        val tol = 1e-9 * math.max(1.0, aA + aB)
        assert(math.abs(gh + dif - aA) < tol, s"seed $s: inter+diff != areaA")
        assert(math.abs(uni - (aA + aB - gh)) < tol, s"seed $s: union identity")
      }
    }
    assert(checked >= 20, s"sweep must exercise real overlaps, got $checked")
  }

  test("fixture sweep: additivity holds for every overlapping region pair") {
    val rs = graft.model.Synth.regions
    var overlapping = 0
    for (i <- rs.indices; j <- rs.indices if i < j) {
      val (aLat, aLng) = rs(i).rings(0)
      val (bLat, bLng) = rs(j).rings(0)
      val inter = PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng))
      if (inter > 0) {
        overlapping += 1
        val aA = areaOf(aLat, aLng); val aB = areaOf(bLat, bLng)
        val uni = PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng))
        val dif = PolyBool.totalArea(PolyBool.difference(aLat, aLng, bLat, bLng))
        val tol = 1e-9 * math.max(1.0, aA + aB)
        assert(math.abs(inter + dif - aA) < tol,
          s"pair ($i,$j): inter+diff=${inter + dif} != areaA=$aA")
        assert(math.abs(uni - (aA + aB - inter)) < tol,
          s"pair ($i,$j): union=$uni != ${aA + aB - inter}")
        assert(inter <= math.min(aA, aB) + tol && uni >= math.max(aA, aB) - tol)
      }
    }
    assert(overlapping > 0, "fixture must contain overlapping region pairs")
  }

  test("large polygons stay in scope: 16000-vertex circle pair (guard is input-sized)") {
    // Regression for the review-r03 traversal guard: the old fixed 10000-step
    // cap rejected legitimately large inputs. Two 16000-vertex circles offset
    // by d=0.8 emit a ~11.8k-vertex lens in ONE traversal run — over the old
    // cap; the input-sized bound must accept it and the lens area must match
    // the analytic circle-overlap formula.
    val n = 16000; val r = 1.0; val d = 0.8
    def circle(cx: Double): (Array[Double], Array[Double]) = {
      val lat = new Array[Double](n); val lng = new Array[Double](n)
      var i = 0
      while (i < n) {
        val t = 2.0 * math.Pi * i / n
        lat(i) = r * math.sin(t); lng(i) = cx + r * math.cos(t); i += 1
      }
      (lat, lng)
    }
    val (aLat, aLng) = circle(0.0)
    val (bLat, bLng) = circle(d)
    val inter = PolyBool.intersection(aLat, aLng, bLat, bLng)
    val got = PolyBool.totalArea(inter)
    val lens = 2.0 * r * r * math.acos(d / (2 * r)) -
      (d / 2.0) * math.sqrt(4 * r * r - d * d)
    assert(inter.map(_.lat.length).sum > 10000,
      "fixture must exceed the old fixed step cap to exercise the new bound")
    assert(math.abs(got - lens) < 1e-4 * lens, s"lens area $got vs analytic $lens")
    val uni = PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng))
    val circleArea = math.abs(PolyBool.signedArea(aLat, aLng))
    assert(math.abs(uni - (2 * circleArea - got)) < 1e-9 * uni)
  }

  // ---- holes (round 4, VERDICT r03 #5): inclusion-exclusion areas ----

  private def hrect(latLo: Double, latHi: Double, lngLo: Double, lngHi: Double)
      : (Array[Double], Array[Double]) =
    (Array(latLo, latLo, latHi, latHi), Array(lngLo, lngHi, lngHi, lngLo))

  test("holes: courtyard straddling the overlap — hand-computed areas") {
    // the q_poly_bool courtyard fixture verified against INDEPENDENT hand
    // arithmetic (axis-aligned products), not the kernel:
    //   As = [10.00,10.20]^2  hole Ah = [10.08,10.14]^2
    //   Bs = [10.10,10.30]^2  hole Bh = [10.22,10.26]^2
    //   inter = |AsnBs| - |AsnBh| - |AhnBs| + |AhnBh|
    //         = 0.10^2 - 0 - 0.04^2 + 0 = 0.0084
    val a = Seq(hrect(10.00, 10.20, 10.00, 10.20), hrect(10.08, 10.14, 10.08, 10.14))
    val b = Seq(hrect(10.10, 10.30, 10.10, 10.30), hrect(10.22, 10.26, 10.22, 10.26))
    val (areaA, areaB, inter, uni, diff) = PolyBool.areasWithHoles(a, b)
    assert(math.abs(areaA - (0.04 - 0.0036)) < 1e-12)
    assert(math.abs(areaB - (0.04 - 0.0016)) < 1e-12)
    assert(math.abs(inter - 0.0084) < 1e-12)
    assert(math.abs(uni - (areaA + areaB - inter)) < 1e-15)
    assert(math.abs(diff - (areaA - inter)) < 1e-15)
  }

  test("holes: hole-on-hole overlap exercises the +term") {
    // general position: B's lat span strictly inside A's (no collinear
    // shared edge lines — the documented GH restriction)
    //   As = lat[0,10]xlng[0,10] hole Ah = lat[2,6]xlng[2,6]
    //   Bs = lat[1,9]xlng[4,14]  hole Bh = lat[3,7]xlng[5,8]
    //   AsnBs = lat[1,9]xlng[4,10] = 48 ; AsnBh = 12 (Bh inside As)
    //   AhnBs = lat[2,6]xlng[4,6] = 8 ; AhnBh = lat[3,6]xlng[5,6] = 3
    //   inter = 48 - 12 - 8 + 3 = 31
    val a = Seq(hrect(0, 10, 0, 10), hrect(2, 6, 2, 6))
    val b = Seq(hrect(1, 9, 4, 14), hrect(3, 7, 5, 8))
    val (areaA, areaB, inter, uni, diff) = PolyBool.areasWithHoles(a, b)
    assert(math.abs(areaA - (100 - 16)) < 1e-12)
    assert(math.abs(areaB - (80 - 12)) < 1e-12)
    assert(math.abs(inter - 31.0) < 1e-12)
    assert(math.abs(uni - (84 + 68 - 31)) < 1e-12)
    assert(math.abs(diff - (84 - 31)) < 1e-12)
  }

  test("holes: overlap entirely inside a hole -> zero intersection") {
    // B overlaps A only where A has its courtyard: measure must vanish
    val a = Seq(hrect(0, 10, 0, 10), hrect(3, 7, 3, 7))
    val b = Seq(hrect(4, 6, 4, 6))
    val (_, _, inter, _, _) = PolyBool.areasWithHoles(a, b)
    assert(math.abs(inter) < 1e-12, s"expected 0, got $inter")
  }

  // ---- degeneracy hardening (round 5, VERDICT r04 #2): shared edges,
  //      vertex-on-edge, identical polygons — the configurations the old
  //      Greiner-Hormann kernel excluded by fixture discipline ----

  test("degenerate: party wall — full shared edge, interiors on opposite sides") {
    val (aLat, aLng) = rect(0, 2, 0, 2)   // area 4
    val (bLat, bLng) = rect(0, 2, 2, 4)   // area 4, shares the lng=2 wall
    assert(PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng)) == 0.0)
    val uni = PolyBool.union(aLat, aLng, bLat, bLng)
    assert(uni.length == 1, s"seamless union ring, got ${uni.length}")
    assert(math.abs(PolyBool.totalArea(uni) - 8.0) < 1e-12)
    val dif = PolyBool.difference(aLat, aLng, bLat, bLng)
    assert(math.abs(PolyBool.totalArea(dif) - 4.0) < 1e-12)
  }

  test("degenerate: party wall whose shared vertices are -0.0 on one side") {
    // junction keys are (Double, Double) tuples; tuple == and ## treat -0.0
    // and 0.0 as equal, so a signed zero must not split a junction
    val pos = Seq(rect(0, 2, -2, 0))
    val neg = Seq((Array(-0.0, -0.0, 2.0, 2.0), Array(-2.0, -0.0, -0.0, -2.0)))
    val b = Seq(rect(0, 2, 0, 2))
    def shape(rings: Seq[PolyBool.Ring]) = (
      rings.count(r => PolyBool.signedArea(r.lat, r.lng) > 0),
      rings.count(r => PolyBool.signedArea(r.lat, r.lng) < 0),
      PolyBool.totalArea(rings))
    for (op <- 0 to 2) {
      val want = shape(PolyBool.booleanRings(pos, b, op))
      assert(shape(PolyBool.booleanRings(neg, b, op)) == want, s"op $op, -0.0 in A")
      val wantBA = shape(PolyBool.booleanRings(b, pos, op))
      assert(shape(PolyBool.booleanRings(b, neg, op)) == wantBA, s"op $op, -0.0 in B")
    }
    assert(shape(PolyBool.booleanRings(neg, b, 1)) == ((1, 0, 8.0)))
  }

  test("degenerate: partial party wall + vertex-on-edge endpoints") {
    val (aLat, aLng) = rect(0, 2, 0, 2)   // area 4
    val (bLat, bLng) = rect(1, 3, 2, 4)   // area 4; shares lng=2 for lat [1,2];
                                          // b's corner (1,2) sits ON a's wall
    assert(PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng)) == 0.0)
    val uni = PolyBool.union(aLat, aLng, bLat, bLng)
    assert(uni.length == 1)
    assert(math.abs(PolyBool.totalArea(uni) - 8.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(
      PolyBool.difference(aLat, aLng, bLat, bLng)) - 4.0) < 1e-12)
  }

  test("degenerate: identical polygons") {
    val (aLat, aLng) = rect(0, 3, 0, 5)   // area 15
    val inter = PolyBool.intersection(aLat, aLng, aLat, aLng)
    assert(inter.length == 1 && math.abs(PolyBool.totalArea(inter) - 15.0) < 1e-12)
    val uni = PolyBool.union(aLat, aLng, aLat, aLng)
    assert(uni.length == 1 && math.abs(PolyBool.totalArea(uni) - 15.0) < 1e-12)
    assert(PolyBool.totalArea(PolyBool.difference(aLat, aLng, aLat, aLng)) == 0.0)
  }

  test("degenerate: contained square sharing two walls (courtyard on the boundary)") {
    val (oLat, oLng) = rect(0, 10, 0, 10) // area 100
    val (iLat, iLng) = rect(0, 2, 0, 2)   // area 4, shares the lat=0 and lng=0 walls
    val inter = PolyBool.intersection(oLat, oLng, iLat, iLng)
    assert(math.abs(PolyBool.totalArea(inter) - 4.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(PolyBool.union(oLat, oLng, iLat, iLng)) - 100.0) < 1e-12)
    // the notch touches the boundary: ONE L-shaped ring, NOT a hole
    val dif = PolyBool.difference(oLat, oLng, iLat, iLng)
    assert(dif.length == 1, s"L-shape must be one ring, got ${dif.length}")
    assert(math.abs(PolyBool.totalArea(dif) - 96.0) < 1e-12)
  }

  test("degenerate: corner-to-corner touch has zero intersection and a sound union") {
    val (aLat, aLng) = rect(0, 2, 0, 2)
    val (bLat, bLng) = rect(2, 4, 2, 4)   // touches a only at (2,2)
    assert(PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng)) == 0.0)
    assert(math.abs(PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng)) - 8.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(PolyBool.difference(aLat, aLng, bLat, bLng)) - 4.0) < 1e-12)
  }

  test("degenerate: collinear edge overlap where interiors are on the SAME side") {
    // b sits inside a with its bottom edge collinear on a's bottom edge
    val (aLat, aLng) = rect(0, 4, 0, 8)   // area 32
    val (bLat, bLng) = rect(0, 2, 2, 5)   // area 6, bottom lat=0 shared run
    val inter = PolyBool.intersection(aLat, aLng, bLat, bLng)
    assert(inter.length == 1 && math.abs(PolyBool.totalArea(inter) - 6.0) < 1e-12)
    assert(math.abs(PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng)) - 32.0) < 1e-12)
    val dif = PolyBool.difference(aLat, aLng, bLat, bLng)
    assert(dif.length == 1, s"notch reaches the boundary: one ring, got ${dif.length}")
    assert(math.abs(PolyBool.totalArea(dif) - 26.0) < 1e-12)
  }

  test("random rectilinear pairs vs exact column arithmetic: 200 degenerate-rich seeds") {
    // INDEPENDENT oracle: vertically-convex rectilinear polygons on an
    // integer lattice — {(x,y): lo(x) <= y <= hi(x)} per unit column — have
    // exact integer areas and the boolean measures reduce to per-column
    // interval arithmetic. Integer coordinates force collinear overlaps,
    // shared edges, vertex-on-edge and vertex-on-vertex meets in nearly
    // every pair — precisely the configurations the old kernel excluded.
    import graft.core.Hashes
    def histPoly(lo: Array[Int], hi: Array[Int]): (Array[Double], Array[Double]) = {
      val w = lo.length
      val xs = scala.collection.mutable.ArrayBuffer[Double]()
      val ys = scala.collection.mutable.ArrayBuffer[Double]()
      xs += 0.0; ys += lo(0).toDouble
      (1 until w).foreach { x =>
        if (lo(x) != lo(x - 1)) { xs += x; ys += lo(x - 1); xs += x; ys += lo(x) }
      }
      xs += w; ys += lo(w - 1)
      xs += w; ys += hi(w - 1)
      (w - 1 to 1 by -1).foreach { x =>
        if (hi(x) != hi(x - 1)) { xs += x; ys += hi(x); xs += x; ys += hi(x - 1) }
      }
      xs += 0.0; ys += hi(0)
      (ys.toArray, xs.toArray) // (lat, lng) = (y, x)
    }
    var overlapped = 0
    (0 until 200).foreach { seed =>
      def u(i: Long): Int =
        (Hashes.splitmix64(seed * 10000L + i) >>> 32).toInt.abs
      val w = 4 + u(0) % 5
      def mk(off: Int): (Array[Int], Array[Int]) = {
        // adjacent columns must overlap in y (lo(x) < hi(x-1) and
        // hi(x) > lo(x-1)) or the ring self-intersects — the generator's
        // contract, not the kernel's
        val lo = new Array[Int](w); val hi = new Array[Int](w)
        lo(0) = u(off) % 5; hi(0) = lo(0) + 1 + u(off + 1) % 5
        (1 until w).foreach { x =>
          lo(x) = u(off + x * 2) % hi(x - 1)
          hi(x) = math.max(lo(x), lo(x - 1)) + 1 + u(off + x * 2 + 1) % 5
        }
        (lo, hi)
      }
      val (loA, hiA) = mk(100)
      val (loB, hiB) = mk(200)
      val (aLat, aLng) = histPoly(loA, hiA)
      val (bLat, bLng) = histPoly(loB, hiB)
      val areaA = (0 until w).map(x => hiA(x) - loA(x)).sum.toDouble
      val areaB = (0 until w).map(x => hiB(x) - loB(x)).sum.toDouble
      val interWant = (0 until w).map(x =>
        math.max(0, math.min(hiA(x), hiB(x)) - math.max(loA(x), loB(x)))).sum.toDouble
      val inter = PolyBool.totalArea(PolyBool.intersection(aLat, aLng, bLat, bLng))
      val uni = PolyBool.totalArea(PolyBool.union(aLat, aLng, bLat, bLng))
      val dif = PolyBool.totalArea(PolyBool.difference(aLat, aLng, bLat, bLng))
      assert(math.abs(inter - interWant) < 1e-9,
        s"seed $seed: inter $inter vs exact $interWant")
      assert(math.abs(uni - (areaA + areaB - interWant)) < 1e-9,
        s"seed $seed: union $uni vs exact ${areaA + areaB - interWant}")
      assert(math.abs(dif - (areaA - interWant)) < 1e-9,
        s"seed $seed: diff $dif vs exact ${areaA - interWant}")
      if (interWant > 0) overlapped += 1
    }
    assert(overlapped >= 100, s"sweep must exercise real overlaps, got $overlapped")
  }

  test("hole-bearing ring OUTPUT agrees with inclusion-exclusion (two algorithms)") {
    // VERDICT r04 #4: intersectionRings emits the actual shell+hole
    // boundary; its measure must match the independent inclusion-exclusion
    // (different algorithm, same kernel policy) on the courtyard fixture
    val a = Seq(hrect(10.00, 10.20, 10.00, 10.20), hrect(10.08, 10.14, 10.08, 10.14))
    val b = Seq(hrect(10.10, 10.30, 10.10, 10.30), hrect(10.22, 10.26, 10.22, 10.26))
    val (_, _, interIE, uniIE, difIE) = PolyBool.areasWithHoles(a, b)
    val interR = PolyBool.totalArea(PolyBool.intersectionRings(a, b))
    val uniR = PolyBool.totalArea(PolyBool.unionRings(a, b))
    val difR = PolyBool.totalArea(PolyBool.differenceRings(a, b))
    assert(math.abs(interR - interIE) < 1e-12, s"rings $interR vs IE $interIE")
    assert(math.abs(uniR - uniIE) < 1e-12, s"rings $uniR vs IE $uniIE")
    assert(math.abs(difR - difIE) < 1e-12, s"rings $difR vs IE $difIE")
    // the courtyard intersection is ONE L-shaped ring (A's hole bites the
    // overlap corner) — geometry, not just measure
    val rings = PolyBool.intersectionRings(a, b)
    assert(rings.length == 1 && rings.head.lat.length == 6,
      s"expected one 6-vertex L ring, got ${rings.map(_.lat.length)}")
  }

  test("hole-bearing ring OUTPUT: union encloses a hole from two courtyards") {
    // A's courtyard straddles the union interior only partially covered by
    // B: union keeps the UNCOVERED part of the hole as a CW ring
    val a = Seq(hrect(0, 10, 0, 10), hrect(2, 6, 2, 6)) // hole 4x4
    val b = Seq(hrect(1, 5, 1, 5))                      // covers hole's [2,5]x[2,5]
    val uni = PolyBool.unionRings(a, b)
    // B (inside the shell) covers [2,5]x[2,5] = 9 of the 16-area hole:
    // union = (100 - 16) + |B \ A| = 84 + 9 = 93; remaining hole area 7
    val want = 93.0
    assert(math.abs(PolyBool.totalArea(uni) - want) < 1e-9,
      s"union area ${PolyBool.totalArea(uni)} vs $want")
    assert(uni.exists(r => graft.core.Geo.shoelaceSigned(r.lat, r.lng) < 0),
      "the uncovered courtyard part must surface as a CW hole ring")
  }

  test("holes: no-hole inputs reduce to the shell kernel exactly") {
    val a = Seq(hrect(0, 2, 0, 3))
    val b = Seq(hrect(1, 3, 1, 5))
    val (areaA, areaB, inter, uni, diff) = PolyBool.areasWithHoles(a, b)
    val shell = PolyBool.totalArea(PolyBool.intersection(a.head._1, a.head._2,
      b.head._1, b.head._2))
    assert(inter === shell)
    assert(math.abs(areaA - 6.0) < 1e-12 && math.abs(areaB - 8.0) < 1e-12)
    assert(math.abs(uni - (6 + 8 - inter)) < 1e-15)
    assert(math.abs(diff - (6 - inter)) < 1e-15)
  }
}
