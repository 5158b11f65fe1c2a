package graft

import graft.core.{Geo, Hex7, Hashes, S2, Tiles}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests for the kernel invariants (FIXTURES.md:
  * "property tests for cell/tile math invariants"). Raw-Gen sampling with a
  * fixed seed (the scalatest-scalacheck bridge is not in the offline cache;
  * deterministic sampling is preferable for golden stability anyway). */
class PropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], seed: Seed): A =
    g.pureApply(Gen.Parameters.default, seed)

  def forAll[A](g1: Gen[A])(f: A => Unit): Unit =
    (0 until 300).foreach(i => f(sample(g1, Seed(42L + i))))
  def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 300).foreach(i => f(sample(g1, Seed(42L + i)), sample(g2, Seed(1042L + i))))
  def forAll[A, B, C](g1: Gen[A], g2: Gen[B], g3: Gen[C])(f: (A, B, C) => Unit): Unit =
    (0 until 300).foreach(i => f(sample(g1, Seed(42L + i)), sample(g2, Seed(1042L + i)),
      sample(g3, Seed(2042L + i))))
  def forAll[A, B, C, D](g1: Gen[A], g2: Gen[B], g3: Gen[C], g4: Gen[D])(f: (A, B, C, D) => Unit): Unit =
    (0 until 300).foreach(i => f(sample(g1, Seed(42L + i)), sample(g2, Seed(1042L + i)),
      sample(g3, Seed(2042L + i)), sample(g4, Seed(3042L + i))))
  def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  val genLat: Gen[Double] = Gen.choose(-84.9, 84.9)
  val genLng: Gen[Double] = Gen.choose(-179.9, 179.9)
  val genLevel: Gen[Int] = Gen.choose(1, 29)
  val genZoom: Gen[Int] = Gen.choose(1, 20)

  test("S2: every ancestor contains the leaf; parents nest") {
    forAll(genLat, genLng, genLevel) { (lat, lng, lvl) =>
      val leaf = S2.fromLatLngDegrees(lat, lng)
      val p = S2.parent(leaf, lvl)
      assert(S2.level(p) == lvl)
      assert(S2.contains(p, leaf))
      if (lvl > 1) assert(S2.contains(S2.parent(leaf, lvl - 1), p))
    }
  }

  test("S2: children partition the parent id range") {
    forAll(genLat, genLng, Gen.choose(0, 28)) { (lat, lng, lvl) =>
      val cell = S2.cellAt(lat, lng, lvl)
      val kids = S2.children(cell)
      assert(kids.length == 4)
      kids.foreach(k => assert(S2.contains(cell, k)))
      // child ranges are disjoint, ascending, and inside the parent range
      val sorted = kids.sortBy(S2.rangeMin)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(S2.rangeMax(a) < S2.rangeMin(b))
        case _ =>
      }
      assert(S2.rangeMin(cell) <= S2.rangeMin(sorted.head) &&
        S2.rangeMax(sorted.last) <= S2.rangeMax(cell))
    }
  }

  test("S2: token round-trips") {
    forAll(genLat, genLng, genLevel) { (lat, lng, lvl) =>
      val id = S2.cellAt(lat, lng, lvl)
      assert(S2.fromToken(S2.token(id)) == id)
    }
  }

  test("S2: cap covering is sound for its own center") {
    forAll(genLat, genLng, Gen.choose(0.001, 2.0)) { (lat, lng, rDeg) =>
      val cov = S2.covering(S2.Cap(Geo.toXYZ(lat, lng), math.toRadians(rDeg)))
      val leaf = S2.fromLatLngDegrees(lat, lng)
      assert(cov.exists(c => S2.contains(c, leaf)))
    }
  }

  test("Tiles: id packing round-trips and parent halves coordinates") {
    forAll(genZoom, Gen.choose(0L, Long.MaxValue), Gen.choose(0L, Long.MaxValue)) { (z, xr, yr) =>
      val x = xr % (1L << z); val y = yr % (1L << z)
      val id = Tiles.tileId(x, y, z)
      assert(Tiles.tileIdToXYZ(id) == ((x, y, z)))
      if (z > 1) {
        val (px, py, pz) = Tiles.parent(x, y, z)
        assert(px == x / 2 && py == y / 2 && pz == z - 1)
        assert(java.lang.Long.compareUnsigned(Tiles.tileId(px, py, pz), id) < 0)
      }
    }
  }

  test("Tiles: a point's tile at z is the parent-chain of its tile at z+1") {
    forAll(genLat.suchThat(l => math.abs(l) < 80), genLng, Gen.choose(2, 18)) { (lat, lng, z) =>
      val (x1, y1) = Tiles.tileFromLatLng(lat, lng, z + 1)
      val (x0, y0) = Tiles.tileFromLatLng(lat, lng, z)
      assert(x0 == x1 / 2 && y0 == y1 / 2)
    }
  }

  test("S2/H3: allocation-free fast paths equal the reference paths bit-for-bit") {
    forAll(genLat, genLng, Gen.choose(1, 15)) { (lat, lng, res) =>
      assert(S2.fromLatLngDegreesFast(lat, lng) == S2.fromLatLngDegrees(lat, lng))
      assert(Hex7.fromLatLngDegreesFast(lat, lng, res) == Hex7.fromLatLngDegrees(lat, lng, res))
    }
  }

  test("S2: cellAt's level-bounded walk equals the leaf's parent at every level 0-30") {
    val rnd = new java.util.SplittableRandom(20261019L)
    // cube-face edges and corners, the poles and the antimeridian, then
    // uniform points on the sphere
    val cornerLat = math.toDegrees(math.atan(1 / math.sqrt(2.0)))
    val edges = for (lat <- Seq(-90.0, -cornerLat, -45.0, 0.0, 45.0, cornerLat, 90.0);
                     lng <- Seq(-180.0, -135.0, -90.0, -45.0, 0.0, 45.0, 90.0, 135.0, 180.0))
      yield (lat, lng)
    val points = edges ++ Seq.fill(100000)(
      (math.toDegrees(math.asin(rnd.nextDouble(-1.0, 1.0))), rnd.nextDouble(-180.0, 180.0)))
    val misses = points.flatMap { case (lat, lng) =>
      val leaf = S2.fromLatLngDegrees(lat, lng)
      (0 to S2.MaxLevel).filter(l => S2.cellAt(lat, lng, l) != S2.parent(leaf, l)).map((lat, lng, _))
    }
    assert(misses.isEmpty, s"${misses.length} (point, level) pairs differ: ${misses.take(5)}")
  }

  test("H3: resolution and digit ranges hold for random points") {
    forAll(genLat, genLng, Gen.choose(1, 15)) { (lat, lng, res) =>
      val id = Hex7.fromLatLngDegrees(lat, lng, res)
      assert(Hex7.resolution(id) == res)
      assert(Hex7.face(id) >= 0 && Hex7.face(id) < 20)
      (2 to res).foreach(k => assert(Hex7.digit(id, k) >= 0 && Hex7.digit(id, k) <= 6))
      if (res > 1) {
        val p = Hex7.parent(id, res - 1)
        assert(Hex7.resolution(p) == res - 1)
        // prefix property
        (2 until res).foreach(k => assert(Hex7.digit(p, k) == Hex7.digit(id, k)))
      }
    }
  }

  test("Geo: haversine is symmetric, non-negative, zero on identity") {
    forAll(genLat, genLng, genLat, genLng) { (a, b, c, d) =>
      val d1 = Geo.haversineMeters(a, b, c, d)
      val d2 = Geo.haversineMeters(c, d, a, b)
      assert(d1 >= 0 && math.abs(d1 - d2) < 1e-6)
      assert(Geo.haversineMeters(a, b, a, b) == 0.0)
      assert(d1 <= math.Pi * Geo.EarthRadiusMeters + 1.0)
    }
  }

  test("Hashes: minhash similarity tracks containment; simhash stable") {
    forAll(Gen.listOfN(30, Gen.choose(Long.MinValue, Long.MaxValue))) { tokens =>
      whenever(tokens.nonEmpty) {
        val arr = tokens.toArray
        val sig1 = Hashes.minhash(arr, 32)
        val sig2 = Hashes.minhash(arr, 32)
        assert(sig1.toSeq == sig2.toSeq)
        assert(Hashes.simhash(arr) == Hashes.simhash(arr))
        // identical sets -> identical signatures -> estimated jaccard 1
        assert(sig1.zip(Hashes.minhash(arr.reverse, 32)).count { case (x, y) => x == y } == 32)
      }
    }
  }

  test("Geo: simplify output is monotone, bounded, keeps endpoints") {
    val genRing = for {
      n <- Gen.choose(3, 40)
      pts <- Gen.listOfN(n, Gen.zip(Gen.choose(-1.0, 1.0), Gen.choose(-1.0, 1.0)))
    } yield pts
    forAll(genRing, Gen.choose(0.0, 0.5)) { (pts, tol) =>
      val la = pts.map(_._1).toArray
      val lo = pts.map(_._2).toArray
      val kept = Geo.simplify(la, lo, tol)
      assert(kept.head == 0 && kept.last == la.length - 1)
      assert(kept.sameElements(kept.sorted))
      assert(kept.length <= la.length)
    }
  }

  test("clipRing: output stays inside the window, bounded area, idempotent") {
    val rnd = new scala.util.Random(11)
    var nonEmpty = 0
    (0 until 200).foreach { _ =>
      val n = 3 + rnd.nextInt(8)
      val cLat = -60 + 120 * rnd.nextDouble(); val cLng = -170 + 340 * rnd.nextDouble()
      val lats = Array.tabulate(n)(i => cLat + 2 * math.cos(2 * math.Pi * i / n) * (0.5 + rnd.nextDouble()))
      val lngs = Array.tabulate(n)(i => cLng + 2 * math.sin(2 * math.Pi * i / n) * (0.5 + rnd.nextDouble()))
      val (lo1, hi1) = { val a = cLat - 1.5 + rnd.nextDouble(); (a, a + 2.0) }
      val (lo2, hi2) = { val a = cLng - 1.5 + rnd.nextDouble(); (a, a + 2.0) }
      val (cl, cg) = Geo.clipRingToRect(lats, lngs, lo1, hi1, lo2, hi2)
      val eps = 1e-9
      cl.indices.foreach { i =>
        assert(cl(i) >= lo1 - eps && cl(i) <= hi1 + eps, s"lat ${cl(i)} outside [$lo1,$hi1]")
        assert(cg(i) >= lo2 - eps && cg(i) <= hi2 + eps)
      }
      if (cl.length >= 3) {
        nonEmpty += 1
        val a = math.abs(Geo.shoelaceSigned(cl, cg))
        assert(a <= (hi1 - lo1) * (hi2 - lo2) / 2 * 2 + 1e-9, "clipped area exceeds window")
        assert(a <= math.abs(Geo.shoelaceSigned(lats, lngs)) + 1e-9, "clip grew the polygon")
        // idempotent: re-clipping changes nothing (up to collinear dedup)
        val (c2l, c2g) = Geo.clipRingToRect(cl, cg, lo1, hi1, lo2, hi2)
        assert(math.abs(math.abs(Geo.shoelaceSigned(c2l, c2g)) - a) < 1e-9)
      }
    }
    assert(nonEmpty > 50)
  }

  test("tilesOnSegment: supercover includes endpoints, is 4-connected, supersets samples") {
    val rnd = new scala.util.Random(23)
    (0 until 200).foreach { _ =>
      val zoom = 6 + rnd.nextInt(7)
      val lat1 = -70 + 140 * rnd.nextDouble(); val lng1 = -170 + 340 * rnd.nextDouble()
      // up to ~5 tile-widths away
      val span = 5.0 * 360.0 / (1L << zoom)
      val lat2 = math.max(-84, math.min(84, lat1 + (rnd.nextDouble() - 0.5) * span))
      val lng2 = math.max(-179, math.min(179, lng1 + (rnd.nextDouble() - 0.5) * span))
      val tiles = Tiles.tilesOnSegment(lat1, lng1, lat2, lng2, zoom)
      val set = tiles.toSet
      assert(set.contains(Tiles.tileFromLatLng(lat1, lng1, zoom)), "start tile missing")
      assert(set.contains(Tiles.tileFromLatLng(lat2, lng2, zoom)), "end tile missing")
      // consecutive tiles are 4-adjacent (the defining supercover property)
      tiles.sliding(2).foreach {
        case Array((x1, y1), (x2, y2)) =>
          assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, "non-adjacent step")
        case _ =>
      }
      // every point sampled along the segment lands in an emitted tile
      (0 to 20).foreach { k =>
        val f = k / 20.0
        val t = Tiles.tileFromLatLng(lat1 + (lat2 - lat1) * f, lng1 + (lng2 - lng1) * f, zoom)
        assert(set.contains(t), s"sampled tile $t not covered")
      }
    }
  }

  test("coveringAtLevel(cap) is may-intersect sound: every in-cap point's cell is covered") {
    val rnd = new scala.util.Random(31)
    (0 until 100).foreach { _ =>
      val lat = -75 + 150 * rnd.nextDouble(); val lng = -175 + 350 * rnd.nextDouble()
      val rM = math.pow(10.0, 2 + 3.5 * rnd.nextDouble()) // 100 m .. ~316 km
      val level = 4 + rnd.nextInt(9)
      val cap = S2.Cap(Geo.toXYZ(lat, lng), rM / Geo.EarthRadiusMeters)
      val cover = S2.coveringAtLevel(cap, level).toSet
      // random bearings/distances inside the cap
      (0 until 30).foreach { _ =>
        val d = rM * rnd.nextDouble() / Geo.EarthRadiusMeters
        val b = 2 * math.Pi * rnd.nextDouble()
        val p1 = math.toRadians(lat); val l1 = math.toRadians(lng)
        val p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(b))
        val l2 = l1 + math.atan2(math.sin(b) * math.sin(d) * math.cos(p1),
          math.cos(d) - math.sin(p1) * math.sin(p2))
        val cell = S2.cellAt(math.toDegrees(p2), math.toDegrees(l2), level)
        assert(cover.contains(cell),
          s"cell of in-cap point missing from coveringAtLevel (lat=$lat lng=$lng r=$rM level=$level)")
      }
    }
  }

  test("path sampler: the candidate cover holds every point within maxDist; rings sample every edge") {
    import graft.ops.Polyline
    val rnd = new scala.util.Random(47)
    def dest(lat: Double, lng: Double, dM: Double, b: Double): (Double, Double) = {
      val d = dM / Geo.EarthRadiusMeters
      val p1 = math.toRadians(lat); val l1 = math.toRadians(lng)
      val p2 = math.asin(math.sin(p1) * math.cos(d) + math.cos(p1) * math.sin(d) * math.cos(b))
      val l2 = l1 + math.atan2(math.sin(b) * math.sin(d) * math.cos(p1),
        math.cos(d) - math.sin(p1) * math.sin(p2))
      (math.toDegrees(p2), math.toDegrees(l2))
    }
    // a random walk of n vertices, segments up to 3 km; with `zeroSeg` the
    // second vertex repeats the first (a zero-length segment)
    def walk(n: Int, zeroSeg: Boolean): (Array[Double], Array[Double]) = {
      val pts = scala.collection.mutable.ArrayBuffer(
        (-70 + 140 * rnd.nextDouble(), -175 + 350 * rnd.nextDouble()))
      while (pts.length < n) {
        val (la, lo) = pts.last
        pts += (if (zeroSeg && pts.length == 1) (la, lo)
          else dest(la, lo, 3000 * rnd.nextDouble(), 2 * math.Pi * rnd.nextDouble()))
      }
      (pts.map(_._1).toArray, pts.map(_._2).toArray)
    }
    var checked = 0
    (0 until 80).foreach { t =>
      val maxDist = 20 + 800 * rnd.nextDouble()
      val (lats, lngs) = walk(if (t == 0) 1 else 2 + rnd.nextInt(5), zeroSeg = t % 3 == 1)
      val cover = Polyline.candidateCover(lats.toSeq, lngs.toSeq, maxDist).toSet
      // points every 1/64 of each geodesic segment (dense enough to land
      // between samples), each pushed up to maxDist off the path
      for (s <- 0 until math.max(1, lats.length - 1); q <- 0 to 64) {
        val e = math.min(s + 1, lats.length - 1)
        val f = q / 64.0
        val (a, b) = (Geo.toXYZ(lats(s), lngs(s)), Geo.toXYZ(lats(e), lngs(e)))
        val m = Array.tabulate(3)(k => (1 - f) * a(k) + f * b(k))
        val norm = math.sqrt(m.map(x => x * x).sum)
        val (bla, blo) = Geo.toLatLng(m.map(_ / norm))
        val (pla, plo) = dest(bla, blo, maxDist * (0.8 + 0.2 * rnd.nextDouble()),
          2 * math.Pi * rnd.nextDouble())
        if (Polyline.distanceToPolylineMeters(pla, plo, lats, lngs) <= maxDist) {
          checked += 1
          assert(cover.contains(S2.cellAt(pla, plo, 12)),
            s"point within $maxDist m of path $t has no covering cell")
        }
      }
    }
    assert(checked > 10000, s"too few in-range points checked: $checked")
    // ring form: each vertex exactly, and the cell of every sample along
    // each edge (the wrapping edge included) at most a step apart
    val level = 13
    val step = Polyline.sampleStepMeters(level)
    (0 until 40).foreach { t =>
      val (lats, lngs) = walk(3 + rnd.nextInt(4), zeroSeg = t % 4 == 0)
      val visits = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      Polyline.samplePath(lats.toSeq, lngs.toSeq, level, closed = true)((la, lo) => visits += ((la, lo)))
      val cells = Polyline.sampleCells(lats.toSeq, lngs.toSeq, level, closed = true).toSet
      lats.indices.foreach { i =>
        val k = (i + 1) % lats.length
        val edge = (Array(lats(i), lats(k)), Array(lngs(i), lngs(k)))
        val n = math.max(1, math.ceil(
          Geo.haversineMeters(lats(i), lngs(i), lats(k), lngs(k)) / step).toInt)
        val samples = (lats(i), lngs(i)) +:
          (1 until n).map(j => Geo.interpolate(edge._1, edge._2, j.toDouble / n)) :+
          ((lats(k), lngs(k)))
        samples.sliding(2).foreach { case Seq((la1, lo1), (la2, lo2)) =>
          assert(Geo.haversineMeters(la1, lo1, la2, lo2) <= step * 1.001)
        }
        samples.init.foreach { case (la, lo) =>
          assert(cells.contains(S2.cellAt(la, lo, level)),
            s"ring $t edge $i: sample ($la, $lo) has no cell")
        }
      }
      assert(visits.length == lats.indices.map { i =>
        val k = (i + 1) % lats.length
        math.max(1, math.ceil(Geo.haversineMeters(lats(i), lngs(i), lats(k), lngs(k)) / step).toInt)
      }.sum, s"ring $t: one vertex plus n-1 interior samples per edge")
    }
  }

  test("CellStore bucket spans are sound: every descendant's bucket is inside the ancestor's span") {
    // the store-backed batch-kNN probe reads only the buckets in
    // [bucketOf(rangeMin), bucketOf(rangeMax)] of each covering cell — a
    // missing bucket would silently drop candidates, so the span must
    // contain the bucket of EVERY descendant id (here: the level-16 cell the
    // store indexes by, for random points inside the ancestor)
    import graft.lineage.CellStore
    val shift = 64 - CellStore.PrefixBits
    forAll(genLat, genLng, Gen.choose(1, 15)) { (lat, lng, lvl) =>
      val cell16 = S2.cellAt(lat, lng, 16)
      val anc = S2.parent(cell16, lvl)
      val lo = S2.rangeMin(anc) >>> shift
      val hi = S2.rangeMax(anc) >>> shift
      val b = cell16 >>> shift
      assert(lo <= b && b <= hi,
        s"bucket $b of level-16 descendant outside span [$lo,$hi] of level-$lvl ancestor")
    }
  }

  test("TopKAgg: any fold/merge split equals sorted-take (order-independent)") {
    // the aggregator under every kNN/ANN gate: its sorted-insert reduce and
    // linear merge must equal brute-force sort-and-take for ANY partition
    // split and arrival order (partial aggregation chooses both arbitrarily)
    val genK = Gen.choose(1, 8)
    val genRows = Gen.listOfN(40,
      Gen.zip(Gen.choose(0L, 30L), Gen.choose(0.0, 10.0))) // duplicate-prone
    forAll(genK, genRows, Gen.choose(0, 39)) { (k, rows0, split) =>
      // unique ids (the operator's contract) but heavily tied scores
      val rows = rows0.zipWithIndex.map { case ((_, d2), i) =>
        (i.toLong, math.rint(d2 * 2) / 2) }
      val agg = new graft.ops.TopKAgg(k)
      val (p1, p2) = rows.splitAt(split)
      val merged = agg.merge(
        p1.foldLeft(agg.zero)(agg.reduce),
        p2.reverse.foldLeft(agg.zero)(agg.reduce)) // second arm reversed order
      val got = agg.finish(merged)
      val want = rows.map { case (id, d2) => (d2, id) }.sorted.take(k)
      assert(got.ids == want.map(_._2) && got.d2s == want.map(_._1),
        s"k=$k split=$split: got ${got.ids} want ${want.map(_._2)}")
    }
  }
}
