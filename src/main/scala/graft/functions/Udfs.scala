package graft.functions

import graft.core.{Geo, Hashes, S2, Tiles}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Batched Scala UDFs over the pure kernels (SURVEY.md §7.3: "plain Scala
  * funcs + batched UDFs (v1); optional codegen Expression later").
  *
  * The hot paths (cell assignment, containment probe, H3) have native
  * codegen Expression counterparts in S2Expressions — these UDF forms
  * remain the general-purpose surface and the reference implementations the
  * expressions are tested against.
  */
object Udfs {

  /** lat/lng -> S2 cell id at `level` (b6's index level 16 by default;
    * reference: search/spatial.go:10). */
  val cellAt16: UserDefinedFunction =
    udf((lat: Double, lng: Double) => S2.cellAt(lat, lng, 16))

  val cellAtLevel: UserDefinedFunction =
    udf((lat: Double, lng: Double, level: Int) => S2.cellAt(lat, lng, level))

  val cellToken: UserDefinedFunction = udf((cell: Long) => S2.token(cell))

  /** Cell id -> center (lat, lng) degrees — the s2-center / s2-points
    * surface (reference api/functions/s2.go:52-67, 98-100). */
  val cellCenter: UserDefinedFunction = udf((cell: Long) => {
    val c = S2.centerXYZ(cell)
    (math.toDegrees(math.atan2(c(2), math.hypot(c(0), c(1)))),
      math.toDegrees(math.atan2(c(1), c(0))))
  })

  /** Ancestors of a cell at the given levels — the feature side of the
    * two-sided cell join (SURVEY.md §2.7 "Spatial query rewrite"). */
  def ancestorsAt(levels: Seq[Int]): UserDefinedFunction = {
    val ls = levels.toArray
    udf((cell: Long) => ls.map(l => S2.parent(cell, l)))
  }

  /** Exact even-odd ray-cast refine over polygon rings — the b6 refine step
    * (api/functions/features.go:46-56) with planar semantics shared
    * bit-for-bit with the oracle SQL (Synth.rayCastSql). */
  val containsRings: UserDefinedFunction =
    udf((lat: Double, lng: Double, ringsLat: Seq[Seq[Double]], ringsLng: Seq[Seq[Double]]) => {
      var odd = false
      var r = 0
      while (r < ringsLat.length) {
        if (Geo.containsPlanar(lat, lng, ringsLat(r).toArray, ringsLng(r).toArray))
          odd = !odd
        r += 1
      }
      odd
    })

  /** Haversine distance in meters (earth radius 6371.01 km as the reference,
    * units/units.go:8) — expressed as codegen-friendly Column arithmetic,
    * not a UDF. */
  def haversineMeters(lat1: org.apache.spark.sql.Column, lng1: org.apache.spark.sql.Column,
                      lat2: org.apache.spark.sql.Column, lng2: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val dp = radians(lat2 - lat1) / 2
    val dl = radians(lng2 - lng1) / 2
    val a = pow(sin(dp), 2) + cos(radians(lat1)) * cos(radians(lat2)) * pow(sin(dl), 2)
    lit(2.0 * Geo.EarthRadiusMeters) * asin(least(lit(1.0), sqrt(a)))
  }

  /** The Column `haversineMeters` on one pair of points: the same
    * operations in the same order, so both give the same bits. */
  private[graft] def haversineMeters(lat1: Double, lng1: Double, lat2: Double, lng2: Double): Double = {
    val dp = math.toRadians(lat2 - lat1) / 2
    val dl = math.toRadians(lng2 - lng1) / 2
    val a = math.pow(math.sin(dp), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) * math.pow(math.sin(dl), 2)
    2.0 * Geo.EarthRadiusMeters * math.asin(math.min(1.0, math.sqrt(a)))
  }

  /** Tiles covering an S2 cell covering at one zoom (robust variant for
    * engine use; exact reference port retained for parity tests —
    * Tiles.scala). */
  def tilesForCovering(zoom: Int): UserDefinedFunction =
    udf((cells: Seq[Long]) =>
      Tiles.coverCellUnionWithTiles(cells.toArray, zoom, robust = true)
        .map { case (x, y, z) => (z, x, y) })

  def tilesForCoveringAcrossZooms(zMin: Int, zMax: Int): UserDefinedFunction =
    udf((cells: Seq[Long]) =>
      Tiles.coverCellUnionAcrossZooms(cells.toArray, zMin, zMax, robust = true)
        .map { case (x, y, z) => (z, x, y) })

  val hex7Parent: UserDefinedFunction =
    udf((id: Long, res: Int) => graft.core.Hex7.parent(id, res))

  /** FNV-64 MVT feature id (api/tiles.go:10-32 parity). */
  val tileFeatureId: UserDefinedFunction =
    udf((typeCode: Long, ns: String, value: Long) => Hashes.tileFeatureId(typeCode, ns, value))

  // ---- text / dedup kernels ----
  val fingerprint: UserDefinedFunction = udf((s: String) => Hashes.fingerprint(s))

  /** Winnowed (MOSS) fingerprints of a document: char k-gram FNV-1a hashes
    * -> windowed rightmost-min selection (Hashes.winnow). Emits (pos, fp)
    * structs; docs shorter than k + w - 1 chars select nothing. */
  def winnowFps(k: Int, w: Int): UserDefinedFunction =
    udf((s: String) =>
      Hashes.winnow(shingles(s, k).map(Hashes.fnv1a), w).toSeq)

  val simhash: UserDefinedFunction = udf((s: String) =>
    Hashes.simhash(tokenize(s).map(Hashes.fnv1a)))

  def minhashSig(k: Int): UserDefinedFunction =
    udf((s: String) => Hashes.minhash(wordShingleHashes(s, 3), k).toSeq)

  /** Shingle hashes without materializing shingle strings: combine the
    * per-word FNV hashes through splitmix — one long per shingle, no
    * intermediate allocation. Set-equivalent to hashing the joined strings
    * (injective up to 64-bit collisions), so Jaccard/minhash semantics are
    * unchanged and the LSH path loses no recall. */
  def wordShingleHashes(s: String, n: Int): Array[Long] = {
    val w = tokenize(s)
    if (w.isEmpty) return Array.empty
    val wh = w.map(Hashes.fnv1a)
    if (wh.length < n) {
      var h = 0L
      var j = 0
      while (j < wh.length) { h = Hashes.splitmix64(h ^ wh(j)); j += 1 }
      return Array(h)
    }
    val out = new Array[Long](wh.length - n + 1)
    var i = 0
    while (i + n <= wh.length) {
      var h = 0L
      var j = 0
      while (j < n) { h = Hashes.splitmix64(h ^ wh(i + j)); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  def tokenize(s: String): Array[String] =
    if (s == null || s.isEmpty) Array.empty else s.split(" ").filter(_.nonEmpty)

  /** Character n-gram shingles. */
  def shingles(s: String, n: Int): Array[String] = {
    if (s == null || s.length < n) return Array.empty
    val out = new Array[String](s.length - n + 1)
    var i = 0
    while (i + n <= s.length) { out(i) = s.substring(i, i + n); i += 1 }
    out
  }

  val docShingles: UserDefinedFunction =
    udf((s: String) => wordShingleHashes(s, 3).distinct.sorted.toSeq)

  /** Exact Jaccard of two sorted long arrays. */
  val jaccardSorted: UserDefinedFunction =
    udf((a: Seq[Long], b: Seq[Long]) => {
      var i = 0; var j = 0; var inter = 0L
      while (i < a.length && j < b.length) {
        val c = java.lang.Long.compare(a(i), b(j))
        if (c == 0) { inter += 1; i += 1; j += 1 }
        else if (c < 0) i += 1 else j += 1
      }
      val union = a.length.toLong + b.length - inter
      if (union == 0) 1.0 else inter.toDouble / union
    })
}
