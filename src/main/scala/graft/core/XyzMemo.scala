package graft.core

/** The unit vector of the last (lat, lng) it was asked for, keyed on the
  * coordinates' raw bits: a row whose S2 and Hex7 cells are both encoded
  * from the same coordinates pays the trig once. A miss recomputes with the
  * same expressions as `Geo.toXYZ`, so every answer equals the plain
  * kernels'. Not thread-safe: the codegen expressions keep one per
  * generated class instance, which one task thread owns. */
final class XyzMemo {
  private var latBits = 0L
  private var lngBits = 0L
  private var x = 0.0
  private var y = 0.0
  private var z = 0.0
  fill(0.0, 0.0)

  private def fill(latDeg: Double, lngDeg: Double): Unit = {
    val lat = math.toRadians(latDeg)
    val lng = math.toRadians(lngDeg)
    val cosLat = math.cos(lat)
    x = cosLat * math.cos(lng)
    y = cosLat * math.sin(lng)
    z = math.sin(lat)
    latBits = java.lang.Double.doubleToRawLongBits(latDeg)
    lngBits = java.lang.Double.doubleToRawLongBits(lngDeg)
  }

  private def load(latDeg: Double, lngDeg: Double): Unit =
    if (java.lang.Double.doubleToRawLongBits(latDeg) != latBits ||
        java.lang.Double.doubleToRawLongBits(lngDeg) != lngBits) fill(latDeg, lngDeg)

  /** `S2.cellAt(latDeg, lngDeg, level)`. */
  def s2CellAt(latDeg: Double, lngDeg: Double, level: Int): Long = {
    load(latDeg, lngDeg)
    S2.cellAtXyz(x, y, z, level)
  }

  /** `Hex7.fromLatLngDegreesFast(latDeg, lngDeg, res)`. */
  def hex7CellAt(latDeg: Double, lngDeg: Double, res: Int): Long = {
    load(latDeg, lngDeg)
    Hex7.fromXyzFast(latDeg, lngDeg, x, y, z, res)
  }
}
