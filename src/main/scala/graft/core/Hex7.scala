package graft.core

/** Hex7 — an H3-STYLE aperture-7 hexagonal hierarchical index (north-rule
  * addition; the reference is S2-only,
  * /root/reference/src/diagonal.works/b6/world.go:12-13).
  *
  * NAMED Hex7, NOT H3, because its ids are deliberately NOT libh3-compatible
  * (VERDICT r01 #9): do not exchange these ids with any system expecting
  * canonical H3 indexes. The hierarchy/pruning semantics the engine relies
  * on (exact digit-truncation parents, covering soundness) are load-bearing
  * and tested; byte-level H3 interop is a non-goal.
  *
  * Built from the PUBLIC H3 construction (h3geo.org/docs/core-library/overview):
  * icosahedral gnomonic projection, hexagonal lattice per face, aperture-7
  * subdivision with Class II/III alternation (rotation asin(sqrt(3/28)) per
  * odd resolution), 3-bit child digits, truncation-based parent/child
  * hierarchy. Divergences, by design (all documented):
  *   - icosahedron orientation is derived mathematically (golden-ratio
  *     vertices, deterministic face ordering) rather than Uber's pinned
  *     orientation table, so ids are NOT byte-equal to libh3 ids;
  *   - base cells are per-face res-1 hexes (face + axial coords in the id)
  *     instead of the canonical 122-base-cell table;
  *   - cells are assigned to exactly one face (max-dot, index tie-break), so
  *     face-boundary cells clip at the face seam (analogous to H3's own
  *     pentagon distortion).
  * Hierarchy (parent = digit truncation) is exact by construction; geometric
  * containment of children in parents is approximate exactly as in H3.
  *
  * 64-bit layout: [63:60 res | 59:55 face | 54:50 q+15 | 49:45 r+15 |
  * 41:0 digits res2..15, 3 bits each, unused = 7].
  */
object Hex7 {
  final val MaxRes = 15

  /** Aperture-7 inter-class rotation: asin(sqrt(3/28)) (public constant of
    * the hex aperture-7 construction). */
  final val Ap7Rot: Double = math.asin(math.sqrt(3.0 / 28.0))

  /** Res-1 hex circumradius in gnomonic face units (face circumradius is
    * tan(~37.3774 deg) ~= 0.764; 0.35 keeps res-1 axial coords within +-15).
    */
  final val S1 = 0.35

  // ---- icosahedron, derived deterministically ----
  /** Per face f, 9 doubles from f * 9: the unit face centre, then the local
    * orthonormal basis e1 and e2 of its tangent plane. */
  private val faceBasis: Array[Double] = {
    val phi = (1.0 + math.sqrt(5.0)) / 2.0
    val raw = Array.newBuilder[Array[Double]]
    for (a <- Seq(-1.0, 1.0); b <- Seq(-phi, phi)) {
      raw += Array(0.0, a, b)
      raw += Array(a, b, 0.0)
      raw += Array(b, 0.0, a)
    }
    val verts = raw.result().map { v =>
      val n = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
      Array(v(0) / n, v(1) / n, v(2) / n)
    }
    // faces = triples of mutually-adjacent vertices (edge length = min dist)
    val minD = (for (i <- verts.indices; j <- verts.indices if i < j)
      yield dist(verts(i), verts(j))).min
    val eps = 1e-9
    val faces = (for {
      i <- verts.indices; j <- verts.indices if j > i
      if dist(verts(i), verts(j)) < minD + eps
      k <- verts.indices if k > j
      if dist(verts(i), verts(k)) < minD + eps && dist(verts(j), verts(k)) < minD + eps
    } yield (i, j, k)).toArray
    require(faces.length == 20, s"icosahedron faces: ${faces.length}")
    val centers = faces.map { case (i, j, k) =>
      val c = Array(verts(i)(0) + verts(j)(0) + verts(k)(0),
        verts(i)(1) + verts(j)(1) + verts(k)(1),
        verts(i)(2) + verts(j)(2) + verts(k)(2))
      val n = math.sqrt(c(0) * c(0) + c(1) * c(1) + c(2) * c(2))
      Array(c(0) / n, c(1) / n, c(2) / n)
    }
    // deterministic face order: descending z, then atan2(y, x)
    val order = centers.indices.sortBy(f => (-centers(f)(2), math.atan2(centers(f)(1), centers(f)(0)))).toArray
    val oc = order.map(centers)
    val ofaces = order.map(faces)
    // local orthonormal basis per face: e1 toward the face's lowest-index vertex
    val e1 = ofaces.zipWithIndex.map { case ((i, _, _), f) =>
      val n = oc(f)
      val v = verts(i)
      val d = v(0) * n(0) + v(1) * n(1) + v(2) * n(2)
      val p = Array(v(0) - d * n(0), v(1) - d * n(1), v(2) - d * n(2))
      val pn = math.sqrt(p(0) * p(0) + p(1) * p(1) + p(2) * p(2))
      Array(p(0) / pn, p(1) / pn, p(2) / pn)
    }
    val e2 = oc.indices.map { f =>
      val n = oc(f); val a = e1(f)
      Array(n(1) * a(2) - n(2) * a(1), n(2) * a(0) - n(0) * a(2), n(0) * a(1) - n(1) * a(0))
    }.toArray
    oc.indices.flatMap(f => oc(f) ++ e1(f) ++ e2(f)).toArray
  }

  private final val GridRows = 90 // 2-degree latitude bands from -90
  private final val GridCols = 180 // 2-degree longitude bands from -180
  private final val MaxGridFaces = 5

  /** The faces `faceOf` can return for a point in each 2° × 2° lat/lng cell
    * (row-major from (-90, -180)), packed into one Int: the count in bits
    * 0-2, then each face, ascending, in 5 bits. A face is listed unless
    * another face's centre is closer, by a dot-product margin of 1e-9, at
    * every point of the cell's bounding cap widened by 1e-6 rad; so every
    * face tied for the max is listed, and the first max in ascending order
    * is `faceOf`'s. 1.14 faces per cell on average (14,024 cells hold one,
    * 2,152 two, 24 five); 64,800 bytes, built in 40-60 ms at class init
    * (cold JVM, 4-core x86 host). */
  private val faceGrid: Array[Int] = {
    val fb = faceBasis
    // sin and cos at every degree of the grid: band edges and middles
    val sinLat = Array.tabulate(2 * GridRows + 1)(i => math.sin(math.toRadians(i - 90.0)))
    val cosLat = Array.tabulate(2 * GridRows + 1)(i => math.cos(math.toRadians(i - 90.0)))
    val sinLng = Array.tabulate(2 * GridCols + 1)(i => math.sin(math.toRadians(i - 180.0)))
    val cosLng = Array.tabulate(2 * GridCols + 1)(i => math.cos(math.toRadians(i - 180.0)))
    val cosMargin = math.cos(1e-6); val sinMargin = math.sin(1e-6)
    val grid = new Array[Int](GridRows * GridCols)
    var row = 0
    while (row < GridRows) {
      val la = 2 * row + 1
      var col = 0
      while (col < GridCols) {
        val lo = 2 * col + 1
        val mx = cosLat(la) * cosLng(lo); val my = cosLat(la) * sinLng(lo); val mz = sinLat(la)
        // the cap around the cell's middle through its farthest point, a
        // corner, widened by the margin: cos and sin of its radius
        var cosR0 = 1.0
        var c = 0
        while (c < 4) {
          val a = la - 1 + 2 * (c & 1); val b = lo - 1 + (c & 2)
          cosR0 = math.min(cosR0, mx * cosLat(a) * cosLng(b) + my * cosLat(a) * sinLng(b) + mz * sinLat(a))
          c += 1
        }
        val sinR0 = math.sqrt(math.max(0.0, 1.0 - cosR0 * cosR0))
        val cosR = cosR0 * cosMargin - sinR0 * sinMargin
        val sinR = sinR0 * cosMargin + cosR0 * sinMargin
        // the face nearest the middle rules out most others: it is tried first
        var nearest = 0
        var f = 1
        while (f < 20) {
          if (mx * fb(f * 9) + my * fb(f * 9 + 1) + mz * fb(f * 9 + 2) >
              mx * fb(nearest * 9) + my * fb(nearest * 9 + 1) + mz * fb(nearest * 9 + 2)) nearest = f
          f += 1
        }
        var packed = 0
        var n = 0
        f = 0
        while (f < 20) {
          // f is ruled out when some face g is closer at every point of the
          // cap: the least of p · (cg - cf) over it is |d| cos(θ + r), θ the
          // angle from the middle to d = cg - cf
          var ruledOut = false
          var k = -1
          while (k < 20 && !ruledOut) {
            val g = if (k < 0) nearest else k
            if (g != f) {
              val dx = fb(g * 9) - fb(f * 9); val dy = fb(g * 9 + 1) - fb(f * 9 + 1)
              val dz = fb(g * 9 + 2) - fb(f * 9 + 2)
              val md = mx * dx + my * dy + mz * dz
              ruledOut = md * cosR - math.sqrt(math.max(0.0, dx * dx + dy * dy + dz * dz - md * md)) * sinR > 1e-9
            }
            k += 1
          }
          if (!ruledOut) {
            require(n < MaxGridFaces, s"Hex7 face grid: cell ($row, $col) has over $MaxGridFaces faces")
            packed |= f << (3 + 5 * n)
            n += 1
          }
          f += 1
        }
        grid(row * GridCols + col) = packed | n
        col += 1
      }
      row += 1
    }
    grid
  }

  private def dist(a: Array[Double], b: Array[Double]): Double = {
    val dx = a(0) - b(0); val dy = a(1) - b(1); val dz = a(2) - b(2)
    math.sqrt(dx * dx + dy * dy + dz * dz)
  }

  def numFaces: Int = faceBasis.length / 9

  def faceOf(x: Double, y: Double, z: Double): Int = {
    val fb = faceBasis
    var best = 0
    var bestDot = -2.0
    var f = 0
    while (f < 20) {
      val o = f * 9
      val d = x * fb(o) + y * fb(o + 1) + z * fb(o + 2)
      if (d > bestDot) { bestDot = d; best = f }
      f += 1
    }
    best
  }

  /** Gnomonic projection of a unit vector onto face f's tangent plane. */
  def project(f: Int, x: Double, y: Double, z: Double): (Double, Double) = {
    val fb = faceBasis; val o = f * 9
    val d = x * fb(o) + y * fb(o + 1) + z * fb(o + 2)
    val px = x / d; val py = y / d; val pz = z / d
    (px * fb(o + 3) + py * fb(o + 4) + pz * fb(o + 5),
      px * fb(o + 6) + py * fb(o + 7) + pz * fb(o + 8))
  }

  /** Inverse: face-plane (u,v) -> unit vector. */
  def unproject(f: Int, u: Double, v: Double): Array[Double] = {
    val fb = faceBasis; val o = f * 9
    val p = Array(fb(o) + u * fb(o + 3) + v * fb(o + 6),
      fb(o + 1) + u * fb(o + 4) + v * fb(o + 7),
      fb(o + 2) + u * fb(o + 5) + v * fb(o + 8))
    val pn = math.sqrt(p(0) * p(0) + p(1) * p(1) + p(2) * p(2))
    Array(p(0) / pn, p(1) / pn, p(2) / pn)
  }

  // ---- hex lattice (pointy-top axial coords) ----
  private def gridRot(res: Int): Double = if ((res & 1) == 0) Ap7Rot else 0.0

  // Per-resolution constants of the encode, indexed by res 0..MaxRes and
  // built with the same IEEE expressions the per-row code would evaluate,
  // so reading them is bit-identical to recomputing them.
  private val edgeLens: Array[Double] =
    Array.tabulate(MaxRes + 1)(res => S1 / math.pow(math.sqrt(7.0), res - 1))
  private val unrotCos: Array[Double] = Array.tabulate(MaxRes + 1)(res => math.cos(-gridRot(res)))
  private val unrotSin: Array[Double] = Array.tabulate(MaxRes + 1)(res => math.sin(-gridRot(res)))
  private val Sqrt3Over3: Double = math.sqrt(3.0) / 3.0

  /** Hex edge length (= circumradius) at `res` (0..MaxRes) in face-plane
    * units (gnomonic). */
  def edgeLen(res: Int): Double = edgeLens(res)

  /** Axial center of hex (q,r) at `res` in face coords. */
  def hexCenter(res: Int, q: Int, r: Int): (Double, Double) = {
    val s = edgeLen(res)
    val x0 = s * math.sqrt(3.0) * (q + r / 2.0)
    val y0 = s * 1.5 * r
    val th = gridRot(res)
    (x0 * math.cos(th) - y0 * math.sin(th), x0 * math.sin(th) + y0 * math.cos(th))
  }

  /** Containing hex of a face-plane point at `res` (cube rounding). */
  def hexRound(res: Int, u: Double, v: Double): (Int, Int) = {
    val th = -gridRot(res)
    val x = u * math.cos(th) - v * math.sin(th)
    val y = u * math.sin(th) + v * math.cos(th)
    val s = edgeLen(res)
    val qf = (math.sqrt(3.0) / 3.0 * x - y / 3.0) / s
    val rf = (2.0 / 3.0 * y) / s
    var q = math.round(qf).toInt
    var r = math.round(rf).toInt
    val sF = -qf - rf
    var sI = math.round(sF).toInt
    val dq = math.abs(q - qf); val dr = math.abs(r - rf); val ds = math.abs(sI - sF)
    if (dq > dr && dq > ds) q = -r - sI
    else if (dr > ds) r = -q - sI
    (q, r)
  }

  /** The 7 aperture-7 children of a hex: center child + 6 axial neighbours
    * in the child grid (public H3 child enumeration). */
  private val childOffsets: Array[(Int, Int)] =
    Array((0, 0), (1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1))

  /** Digit of a child hex by its remainder t - 7 * parent in -3..3 (stored
    * at +3), where t is the first row of 7 * the up-transform: 2q - r under
    * an odd parent res, 3q + r under an even one. */
  private val digitOfOddRem: Array[Int] = {
    val t = new Array[Int](7)
    childOffsets.zipWithIndex.foreach { case ((dq, dr), d) => t(2 * dq - dr + 3) = d }
    t
  }
  private val digitOfEvenRem: Array[Int] = {
    val t = new Array[Int](7)
    childOffsets.zipWithIndex.foreach { case ((dq, dr), d) => t(3 * dq + dr + 3) = d }
    t
  }

  /** Digit bits of an id at `res`: digit 7 (unused) for every k > res. */
  private val unusedDigitBits: Array[Long] = Array.tabulate(MaxRes + 1) { res =>
    (math.max(2, res + 1) to MaxRes).foldLeft(0L)((b, k) => b | 7L << (3 * (MaxRes - k)))
  }

  /** Exact integer aperture-7 down-transform: axial coords of a parent
    * lattice point (res `parentRes`) in the child grid (res parentRes+1).
    * The matrix alternates with grid class (verified against hexCenter):
    * odd parent res -> (3q+r, -q+2r); even -> (2q-r, q+3r). */
  def downAp7(parentRes: Int, q: Int, r: Int): (Int, Int) =
    if ((parentRes & 1) == 1) (3 * q + r, -q + 2 * r)
    else (2 * q - r, q + 3 * r)

  /** Exact aperture-7 up-transform with hex cube rounding: the parent cell
    * (res `parentRes`) of a child hex at res parentRes+1 (the public H3
    * _upAp7 rounding scheme). */
  def upAp7(parentRes: Int, qc: Int, rc: Int): (Int, Int) = {
    val (qf, rf) =
      if ((parentRes & 1) == 1) ((2.0 * qc - rc) / 7.0, (qc + 3.0 * rc) / 7.0)
      else ((3.0 * qc + rc) / 7.0, (-qc + 2.0 * rc) / 7.0)
    axialRound(qf, rf)
  }

  /** Cube rounding of fractional axial coords. */
  def axialRound(qf: Double, rf: Double): (Int, Int) = {
    var q = math.round(qf).toInt
    var r = math.round(rf).toInt
    val sF = -qf - rf
    val sI = math.round(sF).toInt
    val dq = math.abs(q - qf); val dr = math.abs(r - rf); val ds = math.abs(sI - sF)
    if (dq > dr && dq > ds) q = -r - sI
    else if (dr > ds) r = -q - sI
    (q, r)
  }

  // ---- id packing ----
  def pack(res: Int, face: Int, q: Int, r: Int, digits: Array[Int]): Long = {
    require(res >= 0 && res <= MaxRes && face < 32 && q >= -15 && q <= 16 && r >= -15 && r <= 16)
    var id = (res.toLong << 60) | (face.toLong << 55) |
      ((q + 15).toLong << 50) | ((r + 15).toLong << 45)
    var k = 2
    while (k <= MaxRes) {
      val d = if (k <= res && k - 2 < digits.length) digits(k - 2) else 7
      id |= d.toLong << (3 * (MaxRes - k))
      k += 1
    }
    id
  }

  def resolution(id: Long): Int = ((id >>> 60) & 0xf).toInt
  def face(id: Long): Int = ((id >>> 55) & 0x1f).toInt
  def baseQ(id: Long): Int = ((id >>> 50) & 0x1f).toInt - 15
  def baseR(id: Long): Int = ((id >>> 45) & 0x1f).toInt - 15
  def digit(id: Long, res: Int): Int = ((id >>> (3 * (MaxRes - res))) & 0x7).toInt

  /** Parent at `parentRes`: truncate digits (exact hierarchy). */
  def parent(id: Long, parentRes: Int): Long = {
    val r = resolution(id)
    require(parentRes >= 1 && parentRes <= r)
    var out = (id & ~(0xfL << 60)) | (parentRes.toLong << 60)
    var k = parentRes + 1
    while (k <= MaxRes) {
      out |= 0x7L << (3 * (MaxRes - k))
      k += 1
    }
    out
  }

  /** lat/lng -> cell id at `res` (1..15): face, containing hex at `res` by
    * rounding (the only floating-point step), then an EXACT integer walk up
    * the aperture-7 hierarchy (upAp7/downAp7, the public H3 scheme) — so
    * parenthood is integer arithmetic and round-trips are exact. */
  def fromLatLngDegrees(latDeg: Double, lngDeg: Double, res: Int): Long = {
    require(res >= 1 && res <= MaxRes)
    val p = Geo.toXYZ(latDeg, lngDeg)
    val f = faceOf(p(0), p(1), p(2))
    val (u, v) = project(f, p(0), p(1), p(2))
    fromFaceHex(f, res, hexRound(res, u, v))
  }

  /** Build the id from the containing hex at `res` via the exact up-walk. */
  def fromFaceHex(f: Int, res: Int, hex: (Int, Int)): Long = {
    val digits = new Array[Int](math.max(0, res - 1))
    var (q, r) = hex
    var k = res
    while (k >= 2) {
      val (qp, rp) = upAp7(k - 1, q, r)
      val (cq, cr) = downAp7(k - 1, qp, rp) // parent's center child
      val off = (q - cq, r - cr)
      val d = childOffsets.indexOf(off)
      // upAp7 rounds to the nearest parent centre: a child centre is 1
      // child edge from its own parent's and at least sqrt(7) - 1 from any
      // other, so `off` is always a child offset and the 0 is unreachable
      digits(k - 2) = if (d >= 0) d else 0
      q = qp; r = rp
      k -= 1
    }
    pack(res, f, q, r, digits)
  }

  /** Axial coords of the cell's hex in the res-grid (exact down-walk). */
  def cellHex(id: Long): (Int, Int) = {
    val res = resolution(id)
    var q = baseQ(id); var r = baseR(id)
    var k = 2
    while (k <= res) {
      val (cq, cr) = downAp7(k - 1, q, r)
      val (dq, dr) = childOffsets(digit(id, k))
      q = cq + dq; r = cr + dr
      k += 1
    }
    (q, r)
  }

  /** Allocation-free variant of fromLatLngDegrees (no tuples/arrays on the
    * per-row path). Same arithmetic on the same values, reached faster: the
    * face search scans only the candidates of the point's 2° grid cell,
    * per-resolution constants come from tables, and the up-walk is
    * `fromFaceHexExact`. Identical results (Hex7FastSpec differential test). */
  def fromLatLngDegreesFast(latDeg: Double, lngDeg: Double, res: Int): Long = {
    val lat = math.toRadians(latDeg)
    val lng = math.toRadians(lngDeg)
    val cosLat = math.cos(lat)
    fromXyzFast(latDeg, lngDeg, cosLat * math.cos(lng), cosLat * math.sin(lng), math.sin(lat), res)
  }

  /** `fromLatLngDegreesFast` given the point's unit vector (px, py, pz) as
    * `Geo.toXYZ(latDeg, lngDeg)` computes it — the kernel behind the
    * Hex7CellAt codegen expression, which shares the vector with the S2
    * encode of the same row. */
  def fromXyzFast(latDeg: Double, lngDeg: Double, px: Double, py: Double, pz: Double,
                  res: Int): Long = {
    val f = gridFace(latDeg, lngDeg, px, py, pz)
    val fb = faceBasis
    // inline gnomonic projection
    val o = f * 9
    val d = px * fb(o) + py * fb(o + 1) + pz * fb(o + 2)
    val gx = px / d; val gy = py / d; val gz = pz / d
    val u = gx * fb(o + 3) + gy * fb(o + 4) + gz * fb(o + 5)
    val v = gx * fb(o + 6) + gy * fb(o + 7) + gz * fb(o + 8)
    // inline hexRound at res
    val cs = unrotCos(res); val sn = unrotSin(res)
    val rx = u * cs - v * sn
    val ry = u * sn + v * cs
    val s = edgeLens(res)
    val qf = (Sqrt3Over3 * rx - ry / 3.0) / s
    val rf = (2.0 / 3.0 * ry) / s
    var q = math.round(qf).toInt
    var r = math.round(rf).toInt
    val sF = -qf - rf
    val sI = math.round(sF).toInt
    val dq = math.abs(q - qf); val dr = math.abs(r - rf); val ds = math.abs(sI - sF)
    if (dq > dr && dq > ds) q = -r - sI
    else if (dr > ds) r = -q - sI
    fromFaceHexExact(f, res, q, r)
  }

  /** `faceOf` over the candidates of the point's grid cell; NaN and
    * out-of-range coordinates scan every face. */
  private def gridFace(latDeg: Double, lngDeg: Double, px: Double, py: Double, pz: Double): Int =
    if (latDeg >= -90.0 && latDeg <= 90.0 && lngDeg >= -180.0 && lngDeg <= 180.0) {
      val row = math.min(GridRows - 1, ((latDeg + 90.0) * 0.5).toInt)
      val col = math.min(GridCols - 1, ((lngDeg + 180.0) * 0.5).toInt)
      val fb = faceBasis
      var packed = faceGrid(row * GridCols + col)
      var n = packed & 7
      packed >>>= 3
      var f = 0
      var bestDot = -2.0
      while (n > 0) {
        val cf = packed & 31; val co = cf * 9
        val cd = px * fb(co) + py * fb(co + 1) + pz * fb(co + 2)
        if (cd > bestDot) { bestDot = cd; f = cf }
        packed >>>= 5
        n -= 1
      }
      f
    } else faceOf(px, py, pz)

  /** `fromFaceHex` as an exact integer walk. Under the up-transform's
    * rows (2q - r, q + 3r for an odd parent res; 3q + r, -q + 2r for an
    * even one) the 7 child offsets map to exactly the residues -3..3 mod 7,
    * so each parent coordinate is that row divided by 7 and rounded to the
    * nearest integer, and the first row's remainder names the digit. Equal
    * to `fromFaceHex` wherever that one's base coords fit the id
    * (Hex7FastSpec). Like the rest of the per-row path it checks no range:
    * it needs |q|, |r| < 2^26, and a hex whose base coords fit the id has
    * |q|, |r| < 2^25 even at res 15. */
  private[graft] def fromFaceHexExact(f: Int, res: Int, hexQ: Int, hexR: Int): Long = {
    var q = hexQ; var r = hexR
    var bits = unusedDigitBits(res)
    var k = res
    while (k >= 2) {
      // parent res k - 1 is odd exactly when k is even
      val odd = (k & 1) == 0
      val t = if (odd) 2 * q - r else 3 * q + r
      val u = if (odd) q + 3 * r else -q + 2 * r
      q = nearestDiv7(t)
      r = nearestDiv7(u)
      val digit = (if (odd) digitOfOddRem else digitOfEvenRem)(t - 7 * q + 3)
      bits |= digit.toLong << (3 * (MaxRes - k))
      k -= 1
    }
    (res.toLong << 60) | (f.toLong << 55) |
      ((q + 15).toLong << 50) | ((r + 15).toLong << 45) | bits
  }

  private final val Div7Bias = 1 << 26

  /** floorDiv(x + 3, 7) for |x| < 7 * 2^26 - 3: shifted non-negative by
    * 7 * 2^26, then divided by multiply and shift (2454267027 =
    * ceil(2^34 / 7), exact for every numerator below 2^31). */
  @inline private def nearestDiv7(x: Int): Int =
    (((x + (3 + 7 * Div7Bias)).toLong * 2454267027L) >>> 34).toInt - Div7Bias

  /** Cell center as (lat, lng) degrees. */
  def centerLatLng(id: Long): (Double, Double) = {
    val res = resolution(id)
    val (q, r) = cellHex(id)
    val (cu, cv) = hexCenter(res, q, r)
    val p = unproject(face(id), cu, cv)
    (math.toDegrees(math.asin(p(2))), math.toDegrees(math.atan2(p(1), p(0))))
  }

  def token(id: Long): String = java.lang.Long.toHexString(id)

  /** The 6 same-face axial neighbours of a cell (face-seam neighbours are
    * clipped — documented divergence, see the class scaladoc). */
  def neighbors(id: Long): Array[Long] = {
    val res = resolution(id)
    val (q, r) = cellHex(id)
    Array((1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1)).flatMap {
      case (dq, dr) =>
        try Some(fromFaceHex(face(id), res, (q + dq, r + dr)))
        catch { case _: IllegalArgumentException => None } // base coord overflow
    }
  }

  /** Hex k-ring (the H3 gridDisk analogue): BFS over `neighbors` up to k
    * steps, returning (cell, ringDistance) with self at distance 0. BFS
    * shortest-path distances are unique, so the output SET is deterministic
    * regardless of expansion order. Face-seam clipping inherits from
    * `neighbors` (documented divergence: seam cells have smaller disks). */
  def kRing(id: Long, k: Int): Array[(Long, Int)] = {
    require(k >= 0, "kRing: k must be >= 0")
    val dist = scala.collection.mutable.LinkedHashMap(id -> 0)
    var frontier: List[Long] = List(id)
    var d = 0
    while (d < k && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(c => neighbors(c))
        .filterNot(dist.contains).distinct
      frontier.foreach(c => dist.update(c, d))
    }
    dist.iterator.map { case (c, dd) => (c, dd) }.toArray
  }

  /** Sound-by-construction covering of a polygon at `res`: scan the ring
    * bounding box at half the hex INRADIUS so every hex that intersects the
    * polygon (or its boundary) contains at least one scan point; collect
    * distinct cells. The b6 covering idiom re-expressed for the hex grid —
    * downstream joins always refine exactly, so results are
    * covering-independent (same contract as S2.covering). */
  def polygonCovering(shellLat: Array[Double], shellLng: Array[Double], res: Int): Array[Long] = {
    var latLo = Double.MaxValue; var latHi = -Double.MaxValue
    var lngLo = Double.MaxValue; var lngHi = -Double.MaxValue
    var i = 0
    while (i < shellLat.length) {
      if (shellLat(i) < latLo) latLo = shellLat(i)
      if (shellLat(i) > latHi) latHi = shellLat(i)
      if (shellLng(i) < lngLo) lngLo = shellLng(i)
      if (shellLng(i) > lngHi) lngHi = shellLng(i)
      i += 1
    }
    // hex inradius in face units ~ sqrt(3)/2 * edge; face units ~ radians
    // near face center; convert conservatively to degrees (x0.8 margin)
    val stepDeg = math.toDegrees(edgeLen(res) * math.sqrt(3.0) / 2.0) * 0.4
    val latSteps = math.max(2, math.ceil((latHi - latLo) / stepDeg).toInt + 1)
    val cosMid = math.max(0.2, math.cos(math.toRadians((latLo + latHi) / 2)))
    val lngStepDeg = stepDeg / cosMid
    val lngSteps = math.max(2, math.ceil((lngHi - lngLo) / lngStepDeg).toInt + 1)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var a = 0
    while (a <= latSteps) {
      var b = 0
      val lat = latLo + (latHi - latLo) * a / latSteps
      while (b <= lngSteps) {
        val lng = lngLo + (lngHi - lngLo) * b / lngSteps
        out += fromLatLngDegrees(lat, lng, res)
        b += 1
      }
      a += 1
    }
    // boundary densification: walk each edge at the same step
    i = 0
    while (i < shellLat.length) {
      val j = (i + 1) % shellLat.length
      val segLen = math.max(math.abs(shellLat(j) - shellLat(i)),
        math.abs(shellLng(j) - shellLng(i)) * cosMid)
      val steps = math.max(1, math.ceil(segLen / stepDeg).toInt)
      var s = 0
      while (s <= steps) {
        val t = s.toDouble / steps
        out += fromLatLngDegrees(
          shellLat(i) + (shellLat(j) - shellLat(i)) * t,
          shellLng(i) + (shellLng(j) - shellLng(i)) * t, res)
        s += 1
      }
      i += 1
    }
    // one neighbour ring as margin (covers scan-grid gaps near hex corners)
    val withRing = scala.collection.mutable.LinkedHashSet.empty[Long]
    out.foreach { c => withRing += c; neighbors(c).foreach(withRing += _) }
    withRing.toArray.sorted
  }

}
