package graft.core

/** From-scratch S2 cell-id kernel (pure Scala, no Spark deps).
  *
  * Implements the public S2 geometry cell decomposition (quadratic
  * projection + Hilbert curve position, as documented at
  * s2geometry.io/devguide/s2cell_hierarchy) sufficiently for the engine:
  * lat/lng -> leaf cell, parent/children/level/range navigation, tokens,
  * cell centers and vertices, and a sound (conservative) region coverer
  * with b6's index parameters MaxLevel=16 / MaxCells=5 (reference:
  * /root/reference/src/diagonal.works/b6/search/spatial.go:10,30-32).
  *
  * The coverer here is our own: it only guarantees that the returned cell
  * union COVERS the region (never drops intersecting space). Downstream
  * joins always prune with the covering and refine with exact geometry, so
  * query results are covering-independent (SURVEY.md §7.4).
  */
object S2 {
  final val MaxLevel   = 30
  final val LookupBits = 4
  final val PosBits    = 2 * MaxLevel + 1 // 61
  final val MaxSize    = 1 << MaxLevel
  final val SwapMask   = 1
  final val InvertMask = 2

  // Hilbert curve sub-cell traversal orders for the 4 orientations.
  private val posToIJ: Array[Array[Int]] = Array(
    Array(0, 1, 3, 2),
    Array(0, 2, 3, 1),
    Array(3, 2, 0, 1),
    Array(3, 1, 0, 2)
  )
  private val posToOrientation = Array(SwapMask, 0, 0, InvertMask | SwapMask)

  private val lookupPos = new Array[Int](1 << (2 * LookupBits + 2))
  private val lookupIJ  = new Array[Int](1 << (2 * LookupBits + 2))

  private def initLookupCell(level: Int, i: Int, j: Int, origOrientation: Int,
                             pos: Int, orientation: Int): Unit = {
    if (level == LookupBits) {
      val ij = (i << LookupBits) + j
      lookupPos((ij << 2) + origOrientation) = (pos << 2) + orientation
      lookupIJ((pos << 2) + origOrientation) = (ij << 2) + orientation
    } else {
      val r = posToIJ(orientation)
      var index = 0
      while (index < 4) {
        val ij = r(index)
        initLookupCell(level + 1, (i << 1) + (ij >> 1), (j << 1) + (ij & 1),
          origOrientation, (pos << 2) + index, orientation ^ posToOrientation(index))
        index += 1
      }
    }
  }
  initLookupCell(0, 0, 0, 0, 0, 0)
  initLookupCell(0, 0, 0, SwapMask, 0, SwapMask)
  initLookupCell(0, 0, 0, InvertMask, 0, InvertMask)
  initLookupCell(0, 0, 0, SwapMask | InvertMask, 0, SwapMask | InvertMask)

  // ---- quadratic ST <-> UV transform ----
  def stToUV(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4 * s * s - 1)
    else (1.0 / 3.0) * (1 - 4 * (1 - s) * (1 - s))

  def uvToST(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1 + 3 * u)
    else 1 - 0.5 * math.sqrt(1 - 3 * u)

  def stToIJ(s: Double): Int =
    math.max(0, math.min(MaxSize - 1, math.floor(MaxSize * s).toInt))

  // ---- XYZ <-> face/UV ----
  /** Largest-absolute-component face of a unit vector. */
  def xyzToFace(x: Double, y: Double, z: Double): Int = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax > ay) {
      if (ax > az) { if (x < 0) 3 else 0 } else { if (z < 0) 5 else 2 }
    } else {
      if (ay > az) { if (y < 0) 4 else 1 } else { if (z < 0) 5 else 2 }
    }
  }

  /** (u, v) of (x,y,z) on the given face. */
  def faceXYZToUV(face: Int, x: Double, y: Double, z: Double): (Double, Double) =
    face match {
      case 0 => (y / x, z / x)
      case 1 => (-x / y, z / y)
      case 2 => (-x / z, -y / z)
      case 3 => (z / x, y / x)
      case 4 => (z / y, -x / y)
      case _ => (-y / z, -x / z)
    }

  /** Un-normalized (x,y,z) of face/(u,v). */
  def faceUVToXYZ(face: Int, u: Double, v: Double): Array[Double] =
    face match {
      case 0 => Array(1, u, v)
      case 1 => Array(-u, 1, v)
      case 2 => Array(-u, -v, 1)
      case 3 => Array(-1, -v, -u)
      case 4 => Array(v, -1, -u)
      case _ => Array(v, u, -1)
    }

  // ---- cell id construction ----
  def fromFaceIJ(face: Int, i: Int, j: Int): Long = fromFaceIJDownTo(face, i, j, 0)

  /** `fromFaceIJ` with the Hilbert lookup loop stopped after step `kMin`:
    * step k writes only id bits k * 8 + 1 .. k * 8 + 8, so the result agrees
    * with the leaf on every bit above them. */
  private def fromFaceIJDownTo(face: Int, i: Int, j: Int, kMin: Int): Long = {
    var n = face.toLong << (PosBits - 1)
    var bits = face & SwapMask
    var k = 7
    while (k >= kMin) {
      val mask = (1 << LookupBits) - 1
      bits += ((i >> (k * LookupBits)) & mask) << (LookupBits + 2)
      bits += ((j >> (k * LookupBits)) & mask) << 2
      bits = lookupPos(bits)
      n |= (bits >> 2).toLong << (k * 2 * LookupBits)
      bits &= (SwapMask | InvertMask)
      k -= 1
    }
    n * 2 + 1
  }

  def fromLatLngDegrees(latDeg: Double, lngDeg: Double): Long = {
    val lat = math.toRadians(latDeg)
    val lng = math.toRadians(lngDeg)
    val cosLat = math.cos(lat)
    fromXYZ(cosLat * math.cos(lng), cosLat * math.sin(lng), math.sin(lat))
  }

  def fromXYZ(x: Double, y: Double, z: Double): Long = {
    val face = xyzToFace(x, y, z)
    val (u, v) = faceXYZToUV(face, x, y, z)
    fromFaceIJ(face, stToIJ(uvToST(u)), stToIJ(uvToST(v)))
  }

  /** The cell at `level` holding a point: equals
    * `parent(fromLatLngDegrees(lat, lng), level)` bit for bit (PropertySpec). */
  def cellAt(latDeg: Double, lngDeg: Double, level: Int): Long = {
    val lat = math.toRadians(latDeg)
    val lng = math.toRadians(lngDeg)
    val cosLat = math.cos(lat)
    cellAtXyz(cosLat * math.cos(lng), cosLat * math.sin(lng), math.sin(lat), level)
  }

  /** `cellAt` from the point's unit vector as `Geo.toXYZ` computes it — the
    * kernel behind the S2CellAt16 codegen expression. Allocation-free. */
  def cellAtXyz(x: Double, y: Double, z: Double, level: Int): Long = {
    val face = xyzToFace(x, y, z)
    var u = 0.0; var v = 0.0
    face match {
      case 0 => u = y / x; v = z / x
      case 1 => u = -x / y; v = z / y
      case 2 => u = -x / z; v = -y / z
      case 3 => u = z / x; v = y / x
      case 4 => u = z / y; v = -x / y
      case _ => u = -y / z; v = -x / z
    }
    // the lookup steps below (30 - level) / 4 write only bits that `parent`
    // clears or sets: 5 of the 8 steps run at level 16
    val kMin = if (level >= 0 && level <= MaxLevel) (MaxLevel - level) >> 2 else 0
    parent(fromFaceIJDownTo(face, stToIJ(uvToST(u)), stToIJ(uvToST(v)), kMin), level)
  }

  /** The leaf cell: `cellAt` at level 30. Equals fromLatLngDegrees
    * bit-for-bit (PropertySpec). */
  def fromLatLngDegreesFast(latDeg: Double, lngDeg: Double): Long =
    cellAt(latDeg, lngDeg, MaxLevel)

  // ---- navigation ----
  @inline def lsb(id: Long): Long = id & -id
  @inline def lsbForLevel(level: Int): Long = 1L << (2 * (MaxLevel - level))

  def level(id: Long): Int = MaxLevel - (java.lang.Long.numberOfTrailingZeros(id) >> 1)

  def parent(id: Long, lvl: Int): Long = {
    val newLsb = lsbForLevel(lvl)
    (id & -newLsb) | newLsb
  }

  /** Ancestors of `id` at each of `levels` — the codegen kernel behind
    * `S2Expressions.s2Ancestors` (primitive in/out, no boxing). */
  def parents(id: Long, levels: Array[Int]): Array[Long] = {
    val out = new Array[Long](levels.length)
    var i = 0
    while (i < levels.length) { out(i) = parent(id, levels(i)); i += 1 }
    out
  }

  def isLeaf(id: Long): Boolean = (id & 1L) != 0

  def rangeMin(id: Long): Long = id - (lsb(id) - 1)
  def rangeMax(id: Long): Long = id + (lsb(id) - 1)

  /** True if `ancestor` contains `descendant` (or equal). Works for any levels. */
  def contains(ancestor: Long, descendant: Long): Boolean = {
    // unsigned compare; ids here always have face < 6 so sign bit is 0
    rangeMin(ancestor) <= rangeMin(descendant) && rangeMax(descendant) <= rangeMax(ancestor)
  }

  def children(id: Long): Array[Long] = {
    val old = lsb(id)
    val nl = old >> 2
    Array(id - old + nl, id - old + 3 * nl, id - old + 5 * nl, id - old + 7 * nl)
  }

  def face(id: Long): Int = (id >>> PosBits).toInt

  def token(id: Long): String = {
    if (id == 0) return "X"
    var s = f"$id%016x"
    while (s.nonEmpty && s.last == '0') s = s.dropRight(1)
    s
  }

  def fromToken(t: String): Long =
    if (t == "X") 0L
    else java.lang.Long.parseUnsignedLong(t.padTo(16, '0'), 16)

  // ---- decoding: cell id -> face/i/j, center, vertices ----
  /** Returns (face, i, j, orientation). */
  def faceIJOrientation(id: Long): (Int, Int, Int, Int) = {
    val f = face(id)
    var bits = f & SwapMask
    var i = 0
    var j = 0
    var nbits = MaxLevel - 7 * LookupBits // 2 on the first iteration
    var k = 7
    while (k >= 0) {
      bits += (((id >>> (k * 2 * LookupBits + 1)) & ((1L << (2 * nbits)) - 1)).toInt) << 2
      bits = lookupIJ(bits)
      i += (bits >> (LookupBits + 2)) << (k * LookupBits)
      j += ((bits >> 2) & ((1 << LookupBits) - 1)) << (k * LookupBits)
      bits &= (SwapMask | InvertMask)
      nbits = LookupBits
      k -= 1
    }
    var orientation = bits
    if ((lsb(id) & 0x1111111111111110L) != 0) orientation ^= SwapMask
    (f, i, j, orientation)
  }

  /** Cell center as a normalized unit vector. */
  def centerXYZ(id: Long): Array[Double] = {
    val (f, i, j, _) = faceIJOrientation(id)
    val delta =
      if (isLeaf(id)) 1
      else if (((i ^ (id >>> 2).toInt) & 1) != 0) 2
      else 0
    val si = 2L * i + delta
    val ti = 2L * j + delta
    val u = stToUV(si.toDouble / (2.0 * MaxSize))
    val v = stToUV(ti.toDouble / (2.0 * MaxSize))
    normalize(faceUVToXYZ(f, u, v))
  }

  /** The 4 vertices of the cell in CCW order (lower-left, lower-right,
    * upper-right, upper-left in UV space) — matches s2.Cell.Vertex(k),
    * which the reference tile cover relies on
    * (/root/reference/src/diagonal.works/b6/tiles.go:255-270). */
  def vertices(id: Long): Array[Array[Double]] = {
    val (f, i, j, _) = faceIJOrientation(id)
    val size = 1 << (MaxLevel - level(id))
    val iLo = i & -size
    val jLo = j & -size
    val uLo = stToUV(iLo.toDouble / MaxSize)
    val uHi = stToUV((iLo + size).toDouble / MaxSize)
    val vLo = stToUV(jLo.toDouble / MaxSize)
    val vHi = stToUV((jLo + size).toDouble / MaxSize)
    Array(
      normalize(faceUVToXYZ(f, uLo, vLo)),
      normalize(faceUVToXYZ(f, uHi, vLo)),
      normalize(faceUVToXYZ(f, uHi, vHi)),
      normalize(faceUVToXYZ(f, uLo, vHi))
    )
  }

  private def normalize(p: Array[Double]): Array[Double] = {
    val n = math.sqrt(p(0) * p(0) + p(1) * p(1) + p(2) * p(2))
    Array(p(0) / n, p(1) / n, p(2) / n)
  }

  /** Angle (radians) from the cell center to its farthest vertex: a
    * conservative circumradius used by the coverer's intersection tests. */
  def circumAngle(id: Long): Double = {
    val c = centerXYZ(id)
    val vs = vertices(id)
    var m = 0.0
    var k = 0
    while (k < 4) {
      val a = Geo.angleBetween(c, vs(k))
      if (a > m) m = a
      k += 1
    }
    m
  }

  // =====================================================================
  // Region coverer
  // =====================================================================

  /** A region the coverer can cover: the test must be CONSERVATIVE — it may
    * return true for a disjoint cell, but never false for an intersecting
    * one. */
  trait Region {
    def mayIntersectCell(cellId: Long): Boolean
  }

  /** Spherical cap: all points within `angle` radians of `center` (unit vec). */
  final case class Cap(center: Array[Double], angle: Double) extends Region {
    def mayIntersectCell(cellId: Long): Boolean =
      Geo.angleBetween(center, centerXYZ(cellId)) <= angle + circumAngle(cellId) + 1e-12
  }

  /** Polygon region given as rings of (lat, lng) degrees; first ring is the
    * shell (holes don't matter for covering soundness — covering the shell
    * covers the polygon). */
  final case class Poly(shellLat: Array[Double], shellLng: Array[Double]) extends Region {
    private val verts: Array[Array[Double]] = {
      val n = shellLat.length
      val out = new Array[Array[Double]](n)
      var k = 0
      while (k < n) {
        val la = math.toRadians(shellLat(k)); val lo = math.toRadians(shellLng(k))
        out(k) = Array(math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la))
        k += 1
      }
      out
    }
    def mayIntersectCell(cellId: Long): Boolean = {
      val c = centerXYZ(cellId)
      val r = circumAngle(cellId) + 1e-12
      // inside the shell, or within circumradius of its boundary
      if (Geo.containsPlanar(math.toDegrees(math.asin(c(2))),
            math.toDegrees(math.atan2(c(1), c(0))), shellLat, shellLng)) true
      else {
        var k = 0
        val n = verts.length
        var hit = false
        while (k < n && !hit) {
          val a = verts(k); val b = verts((k + 1) % n)
          if (Geo.distToArc(c, a, b) <= r) hit = true
          k += 1
        }
        hit
      }
    }
  }

  /** Sound covering of `region`: a set of cells (levels in [0, maxLevel])
    * whose union contains every point of the region, with at most ~maxCells
    * cells (the cap is best-effort, as in the reference coverer). Sorted. */
  def covering(region: Region, maxCells: Int = 5, maxLevel: Int = 16): Array[Long] = {
    // seed with the 6 face cells that may intersect
    var cells = List.newBuilder[Long]
    var f = 0
    while (f < 6) {
      val id = parent((f.toLong << PosBits) | (1L << (PosBits - 1)), 0)
      if (region.mayIntersectCell(id)) cells += id
      f += 1
    }
    var active = cells.result()
    // repeatedly split the coarsest cell while the result still fits
    var done = false
    while (!done) {
      val splittable = active.filter(level(_) < maxLevel)
      if (splittable.isEmpty) done = true
      else {
        val target = splittable.minBy(id => (level(id), id))
        val kids = children(target).filter(region.mayIntersectCell)
        if (active.size - 1 + kids.length <= maxCells || kids.length <= 1) {
          active = active.filterNot(_ == target) ++ kids
          if (active.isEmpty) done = true // degenerate: conservative tests said empty
        } else done = true
      }
    }
    val out = active.toArray
    java.util.Arrays.sort(out)
    out
  }

  /** All cells at exactly `level` that may intersect the region (sound). */
  def coveringAtLevel(region: Region, lvl: Int): Array[Long] = {
    val out = List.newBuilder[Long]
    def recurse(id: Long): Unit = {
      if (!region.mayIntersectCell(id)) ()
      else if (level(id) == lvl) out += id
      else children(id).foreach(recurse)
    }
    var f = 0
    while (f < 6) {
      recurse(parent((f.toLong << PosBits) | (1L << (PosBits - 1)), 0))
      f += 1
    }
    val arr = out.result().toArray
    java.util.Arrays.sort(arr)
    arr
  }
}
