package graft

import graft.core.{Geo, Hex7}
import graft.model.Synth
import org.scalatest.funsuite.AnyFunSuite

/** Seeded differential check of the per-row Hex7 encode against its
  * rounding reference: `fromLatLngDegreesFast` (face search over the
  * candidates of a 2° grid cell, per-resolution tables, integer up-walk)
  * must equal `fromLatLngDegrees` (full face scan, floating-point `upAp7`
  * walk) bit for bit, and the
  * integer walk `fromFaceHexExact` must equal `fromFaceHex` hex for hex. */
class Hex7FastSpec extends AnyFunSuite {

  private val rnd = new java.util.SplittableRandom(20261017L)

  private def uniformLat(): Double = math.toDegrees(math.asin(rnd.nextDouble(-1.0, 1.0)))
  private def uniformLng(): Double = rnd.nextDouble(-180.0, 180.0)

  /** Compares the two encodes at one point; counts misses, keeps a few. */
  private final class Diff {
    var points = 0L
    var misses = 0L
    val examples = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(lat: Double, lng: Double, res: Int): Unit = {
      points += 1
      val fast = Hex7.fromLatLngDegreesFast(lat, lng, res)
      val ref = Hex7.fromLatLngDegrees(lat, lng, res)
      if (fast != ref) {
        misses += 1
        if (examples.length < 5) examples +=
          f"($lat%.17g, $lng%.17g) res $res: fast ${Hex7.token(fast)} ref ${Hex7.token(ref)}"
      }
    }
    def checkAllRes(lat: Double, lng: Double): Unit = (1 to Hex7.MaxRes).foreach(check(lat, lng, _))
  }

  private def faceAt(lat: Double, lng: Double): Int = {
    val p = Geo.toXYZ(lat, lng)
    Hex7.faceOf(p(0), p(1), p(2))
  }

  /** A point on an icosahedron face seam: bisects the segment between two
    * nearby points that lie on different faces. None if they share a face. */
  private def seamPoint(): Option[(Double, Double)] = {
    val lat0 = rnd.nextDouble(-80.0, 80.0); val lng0 = rnd.nextDouble(-170.0, 170.0)
    val lat1 = lat0 + rnd.nextDouble(-8.0, 8.0); val lng1 = lng0 + rnd.nextDouble(-8.0, 8.0)
    val f0 = faceAt(lat0, lng0)
    if (faceAt(lat1, lng1) == f0) None
    else {
      var lo = 0.0; var hi = 1.0
      var i = 0
      while (i < 60) {
        val mid = (lo + hi) / 2
        if (faceAt(lat0 + (lat1 - lat0) * mid, lng0 + (lng1 - lng0) * mid) == f0) lo = mid
        else hi = mid
        i += 1
      }
      Some((lat0 + (lat1 - lat0) * lo, lng0 + (lng1 - lng0) * lo))
    }
  }

  private val jitters = Array(0.0, 1e-13, -1e-13, 1e-10, -1e-10, 1e-7, -1e-7)

  test("fromLatLngDegreesFast equals fromLatLngDegrees bit for bit on 1M+ seeded points") {
    val d = new Diff
    // uniform on the sphere, every resolution
    var i = 0
    while (i < 600000) { d.check(uniformLat(), uniformLng(), 1 + i % Hex7.MaxRes); i += 1 }
    // the three hot caps (±550 m) at the flagship resolution
    Synth.hotCenters.foreach { case (cLat, cLng) =>
      var j = 0
      while (j < 80000) {
        d.check(cLat + rnd.nextDouble(-0.005, 0.005), cLng + rnd.nextDouble(-0.008, 0.008), 9)
        j += 1
      }
    }
    // face seams, jittered across the seam, every resolution
    var seams = 0
    while (seams < 3000) {
      seamPoint().foreach { case (lat, lng) =>
        seams += 1
        jitters.foreach(j => d.checkAllRes(lat + j, lng - j))
      }
    }
    // the antimeridian, latitude ±84.9 and the planes x, y or z = 0
    i = 0
    while (i < 1000) {
      val lat = uniformLat(); val lng = uniformLng()
      jitters.foreach { j =>
        d.checkAllRes(lat, 180.0 - math.abs(j))
        d.checkAllRes(lat, -180.0 + math.abs(j))
        d.checkAllRes(84.9 + j, lng)
        d.checkAllRes(-84.9 + j, lng)
        d.check(j, lng, 1 + i % Hex7.MaxRes)
        Seq(0.0, 90.0, -90.0, 180.0).foreach(m => d.check(lat, m + j, 1 + i % Hex7.MaxRes))
      }
      i += 1
    }
    assert(d.points >= 1000000L)
    assert(d.misses == 0, s"${d.misses} of ${d.points} points differ: ${d.examples.mkString("; ")}")
  }

  test("face-grid lines, poles, ±180°, NaN and out-of-range inputs equal fromLatLngDegrees bit for bit") {
    val d = new Diff
    val offsets = Array(0.0, 1e-13, -1e-13, 1e-10, -1e-10, 1e-7, -1e-7)
    // every node of the 2° grid, offset along both axes
    var lat = -90
    while (lat <= 90) {
      var lng = -180
      while (lng <= 180) {
        offsets.foreach(a => offsets.foreach(b => d.check(lat + a, lng + b, if (((lat ^ lng) & 2) == 0) 9 else 15)))
        lng += 2
      }
      lat += 2
    }
    // along each grid line, offset across it
    (0 until 40).foreach { _ =>
      val atLat = uniformLat(); val atLng = uniformLng()
      (-90 to 90 by 2).foreach(l => offsets.foreach { o => d.check(l + o, atLng, 9); d.check(l + o, atLng, 15) })
      (-180 to 180 by 2).foreach(l => offsets.foreach { o => d.check(atLat, l + o, 9); d.check(atLat, l + o, 15) })
    }
    // the poles and the antimeridian at every resolution
    (0 until 500).foreach { _ =>
      d.checkAllRes(90.0, uniformLng()); d.checkAllRes(-90.0, uniformLng())
      d.checkAllRes(uniformLat(), 180.0); d.checkAllRes(uniformLat(), -180.0)
    }
    // NaN, infinities and coordinates outside [-90, 90] x [-180, 180]
    val odd = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 90.0 + 1e-13,
      -90.0 - 1e-13, 91.0, -135.0, 180.0 + 1e-13, -180.0 - 1e-13, 270.0, -400.0, 1e6)
    odd.foreach { a =>
      d.checkAllRes(a, 10.0); d.checkAllRes(10.0, a)
      odd.foreach(b => d.checkAllRes(a, b))
    }
    assert(d.points >= 800000L)
    assert(d.misses == 0, s"${d.misses} of ${d.points} points differ: ${d.examples.mkString("; ")}")
  }

  /** fromFaceHex, or None where its base coords do not fit the id. */
  private def reference(f: Int, res: Int, q: Int, r: Int): Option[Long] =
    try Some(Hex7.fromFaceHex(f, res, (q, r)))
    catch { case _: IllegalArgumentException => None }

  private def walkBox(f: Int, res: Int, q0: Int, r0: Int, half: Int): (Int, Seq[String]) = {
    var walks = 0
    val misses = scala.collection.mutable.ArrayBuffer.empty[String]
    var dq = -half
    while (dq <= half) {
      var dr = -half
      while (dr <= half) {
        val q = q0 + dq; val r = r0 + dr
        reference(f, res, q, r).foreach { ref =>
          walks += 1
          if (Hex7.fromFaceHexExact(f, res, q, r) != ref && misses.length < 5)
            misses += s"face $f res $res hex ($q, $r)"
        }
        dr += 1
      }
      dq += 1
    }
    (walks, misses.toSeq)
  }

  test("fromFaceHexExact equals fromFaceHex: exhaustive box at res 9, sampled boxes at res 2-15") {
    val (walks9, miss9) = walkBox(f = 7, res = 9, q0 = 0, r0 = 0, half = 300)
    assert(walks9 == 601 * 601)
    assert(miss9.isEmpty, miss9.mkString("; "))
    var walks = 0
    (2 to Hex7.MaxRes).foreach { res =>
      // boxes around seeded points, and around the extreme base cells whose
      // descendants carry the largest coordinates the id can hold
      val centres = Seq.fill(6) {
        Hex7.cellHex(Hex7.fromLatLngDegrees(uniformLat(), uniformLng(), res))
      } ++ (for (bq <- Seq(-15, 16); br <- Seq(-15, 16))
        yield Hex7.cellHex(Hex7.pack(res, 0, bq, br, Array.fill(res - 1)(rnd.nextInt(7)))))
      centres.foreach { case (q0, r0) =>
        val (n, miss) = walkBox(rnd.nextInt(20), res, q0, r0, half = 20)
        assert(miss.isEmpty, miss.mkString("; "))
        walks += n
      }
    }
    assert(walks > 100000, s"only $walks sampled walks had a representable id")
  }
}
