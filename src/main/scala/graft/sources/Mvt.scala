package graft.sources

import graft.core.{Hashes, Tiles}

/** Mapbox Vector Tile encoder (SURVEY.md §2.1 MVT tile sink, §3.3 serving
  * path) — a from-scratch implementation of the PUBLIC MVT 2.1 spec
  * (github.com/mapbox/vector-tile-spec): protobuf wire format hand-encoded
  * (varint/zigzag), layer/feature/geometry command encoding (MoveTo=1,
  * LineTo=2, ClosePath=7), extent 4096, with the reference's FNV-64 feature
  * ids (api/tiles.go:10-32) and tile-local Mercator projection
  * (renderer/encoder.go:31-143 semantics re-derived from the spec, not
  * ported).
  *
  * Pure Scala: usable inside a UDF to emit `bytes` per (z,x,y) group. */
object Mvt {

  final val Extent = 4096

  // ---- protobuf primitives ----
  final class Buf {
    private var arr = new Array[Byte](256)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > arr.length) {
        var cap = arr.length * 2
        while (cap < len + n) cap *= 2
        arr = java.util.Arrays.copyOf(arr, cap)
      }
    def varint(v0: Long): Unit = {
      ensure(10)
      var v = v0
      while ((v & ~0x7fL) != 0) { arr(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7 }
      arr(len) = v.toByte; len += 1
    }
    def key(field: Int, wire: Int): Unit = varint((field << 3) | wire)
    def bytes(field: Int, b: Array[Byte]): Unit = { key(field, 2); varint(b.length); ensure(b.length); System.arraycopy(b, 0, arr, len, b.length); len += b.length }
    def string(field: Int, s: String): Unit = bytes(field, s.getBytes("UTF-8"))
    def uint(field: Int, v: Long): Unit = { key(field, 0); varint(v) }
    def result(): Array[Byte] = java.util.Arrays.copyOf(arr, len)
  }

  def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)

  /** One point feature in tile-local integer coordinates. */
  final case class PointFeature(id: Long, px: Int, py: Int, tags: Seq[(String, String)] = Nil)

  /** Project lat/lng into tile-local integer pixel coords for tile
    * (z, x, y) at the MVT extent. */
  def tileLocal(lat: Double, lng: Double, z: Int, x: Long, y: Long): (Int, Int) = {
    val (px, py) = Tiles.project(lat, lng, z)
    (math.round((px - x) * Extent).toInt, math.round((py - y) * Extent).toInt)
  }

  /** One layer feature: its id, geometry type (1 POINT, 2 LINESTRING,
    * 3 POLYGON), encoded geometry commands and tags. */
  final case class Feature(id: Long, geomType: Int, geom: Array[Byte],
                           tags: Seq[(String, String)] = Nil)

  /** Encode one layer as a complete MVT blob: version, name, the features
    * in the given order, the key/value dictionaries of their tags (none
    * when no feature has tags), extent, wrapped in the tile message. */
  def encodeLayer(layerName: String, features: Seq[Feature]): Array[Byte] = {
    val keys = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val values = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    features.foreach(_.tags.foreach { case (k, v) =>
      keys.getOrElseUpdate(k, keys.size)
      values.getOrElseUpdate(v, values.size)
    })
    val layer = new Buf
    layer.uint(15, 2)               // version
    layer.string(1, layerName)      // name
    features.foreach { f =>
      val feat = new Buf
      feat.uint(1, f.id)            // id
      if (f.tags.nonEmpty) {        // tags: packed k/v dictionary indices
        val t = new Buf
        f.tags.foreach { case (k, v) => t.varint(keys(k)); t.varint(values(v)) }
        feat.bytes(2, t.result())
      }
      feat.uint(3, f.geomType)
      feat.bytes(4, f.geom)
      layer.bytes(2, feat.result())
    }
    keys.keys.foreach(layer.string(3, _))
    values.keys.foreach { v =>      // values are message-wrapped strings
      val vb = new Buf; vb.string(1, v); layer.bytes(4, vb.result())
    }
    layer.uint(5, Extent)
    val tile = new Buf
    tile.bytes(3, layer.result())
    tile.result()
  }

  /** Encode one layer of point features: a point's geometry is the line
    * geometry of its one vertex (MoveTo(1) then dx, dy). */
  def encodePointLayer(layerName: String, features: Seq[PointFeature]): Array[Byte] =
    encodeLayer(layerName, features.map(f =>
      Feature(f.id, 1, lineGeometry(Array(f.px), Array(f.py)), f.tags)))

  /** Encode one tag-less layer of pre-built feature geometries.
    * @param feats (featureId, geomType 2=LINESTRING 3=POLYGON, geomBytes). */
  def encodeGeomLayer(layerName: String, feats: Seq[(Long, Int, Array[Byte])]): Array[Byte] =
    encodeLayer(layerName, feats.map { case (id, gt, geom) => Feature(id, gt, geom) })

  /** LINESTRING geometry commands (MVT 2.1 §4.3, matching the shapes of the
    * reference's renderer/encoder.go:77-143): MoveTo(1) then LineTo(n-1),
    * cursor-relative zigzag deltas; the cursor starts at (0,0) per feature. */
  def lineGeometry(xs: Array[Int], ys: Array[Int]): Array[Byte] =
    commands(Seq((xs, ys)), close = false)

  /** POLYGON geometry commands: per ring MoveTo(1) + LineTo(n-1) +
    * ClosePath(1); the closing vertex is NOT repeated; the cursor persists
    * across rings within one feature (MVT 2.1 §4.3.4.4). */
  def polygonGeometry(rings: Seq[(Array[Int], Array[Int])]): Array[Byte] =
    commands(rings, close = true)

  /** The one MoveTo/LineTo emitter: per vertex run MoveTo(1) then
    * LineTo(n-1), with ClosePath(1) after each run when `close`. */
  private def commands(runs: Seq[(Array[Int], Array[Int])], close: Boolean): Array[Byte] = {
    val g = new Buf
    var cx = 0; var cy = 0
    runs.foreach { case (xs, ys) =>
      g.varint((1L << 3) | 1) // MoveTo, count 1
      g.varint(zigzag(xs(0) - cx)); g.varint(zigzag(ys(0) - cy))
      cx = xs(0); cy = ys(0)
      if (xs.length > 1) {
        g.varint(((xs.length - 1).toLong << 3) | 2) // LineTo, count n-1
        var i = 1
        while (i < xs.length) {
          g.varint(zigzag(xs(i) - cx)); g.varint(zigzag(ys(i) - cy))
          cx = xs(i); cy = ys(i)
          i += 1
        }
      }
      if (close) g.varint((1L << 3) | 7) // ClosePath, count 1
    }
    g.result()
  }

  /** Feature id exactly as the reference: FNV-64 of (type, ns, value)
    * (api/tiles.go:10-32). */
  def featureId(typeCode: Long, ns: String, value: Long): Long =
    Hashes.tileFeatureId(typeCode, ns, value)

  // ---- minimal decoder (for tests/round-trips; not a full parser) ----
  def decodeFields(b: Array[Byte]): Seq[(Int, Either[Long, Array[Byte]])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Either[Long, Array[Byte]])]
    var i = 0
    def varint(): Long = {
      var v = 0L; var s = 0
      while ({ val x = b(i); i += 1; v |= (x & 0x7fL) << s; s += 7; (x & 0x80) != 0 }) ()
      v
    }
    while (i < b.length) {
      val tag = varint()
      val field = (tag >> 3).toInt
      (tag & 7) match {
        case 0 => out += ((field, Left(varint())))
        case 2 =>
          val n = varint().toInt
          out += ((field, Right(java.util.Arrays.copyOfRange(b, i, i + n))))
          i += n
        case w => throw new IllegalStateException(s"wire $w")
      }
    }
    out.toSeq
  }
}
