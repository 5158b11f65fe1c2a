package graft.functions

import graft.core.{S2, Tiles}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{call_function, lit, shiftrightunsigned}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native Catalyst expression for the hot write-time path: lat/lng -> S2
  * level-16 cell (SURVEY.md §4.3 "custom expressions (optional, perf)").
  *
  * Unlike a Scala UDF, this stays inside whole-stage codegen: the generated
  * code calls the kernel directly — no ScalaUDF wrapper, no
  * encoder/converter round-trip, no extra closure dispatch per row, and the
  * expression reports its null-intolerance so Catalyst can reason about it.
  * Generated code encodes through the generated class's one `XyzMemo`, which
  * it shares with Hex7CellAt; interpreted evaluation calls `S2.cellAt`.
  */
case class S2CellAt16(left: Expression, right: Expression)
    extends BinaryExpression with Serializable {

  override def dataType: DataType = LongType
  override def prettyName: String = "s2_cell16"

  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    S2.cellAt(lat.asInstanceOf[Double], lng.asInstanceOf[Double], 16)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memo = S2Expressions.xyzMemo(ctx)
    nullSafeCodeGen(ctx, ev, (lat, lng) => s"${ev.value} = $memo.s2CellAt($lat, $lng, 16);")
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): S2CellAt16 =
    copy(left = newLeft, right = newRight)
}

/** Native containment probe: region ordinals containing the point, via a
  * ProbeIndex shipped in the expression's reference array (ctx.addReferenceObj
  * — the standard pattern for constant side data in generated code). Unboxed
  * inputs; generated code returns one shared empty array on the no-match
  * path instead of allocating one per row. */
case class ContainmentProbeExpr(first: Expression, second: Expression, third: Expression,
                                index: graft.ops.PointProbe)
    extends TernaryExpression with Serializable {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "containment_probe"

  override protected def nullSafeEval(cell: Any, lat: Any, lng: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      index.probe(cell.asInstanceOf[Long], lat.asInstanceOf[Double], lng.asInstanceOf[Double]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val idxRef = ctx.addReferenceObj("probeIndex", index, classOf[graft.ops.PointProbe].getName)
    val emptyRef = ctx.addReferenceObj("noRegions",
      UnsafeArrayData.fromPrimitiveArray(Array.emptyIntArray), classOf[UnsafeArrayData].getName)
    nullSafeCodeGen(ctx, ev, (cell, lat, lng) => {
      val hits = ctx.freshName("hits")
      s"""int[] $hits = $idxRef.probe($cell, $lat, $lng);
         |${ev.value} = $hits.length == 0 ? $emptyRef
         |  : org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($hits);""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): ContainmentProbeExpr =
    copy(first = f, second = s, third = t)
}

/** Native packed tile chain: TileIDs zMax..zMin as a primitive long array —
  * no boxing across the generator boundary. */
case class TileChainExpr(left: Expression, right: Expression, zMin: Int, zMax: Int)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "tile_chain"

  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      graft.ops.ProbeIndex.tileChain(lat.asInstanceOf[Double], lng.asInstanceOf[Double], zMin, zMax))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lng) =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  graft.ops.ProbeIndex.tileChain($lat, $lng, $zMin, $zMax));""".stripMargin)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): TileChainExpr =
    copy(left = l, right = r)
}

/** Native ancestors-at-levels: level-16 cell -> its parents at the given
  * levels, as a primitive long array. Replaces the ScalaUDF in the hot
  * probe paths (containment join, batch kNN): the explode input stays
  * inside whole-stage codegen — no encoder round-trip per image row. The
  * levels array rides along as a constant reference object. */
case class S2AncestorsExpr(child: Expression, levels: Array[Int])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "s2_ancestors"

  override protected def nullSafeEval(cell: Any): Any =
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
      S2.parents(cell.asInstanceOf[Long], levels))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lvlRef = ctx.addReferenceObj("levels", levels, "int[]")
    nullSafeCodeGen(ctx, ev, cell =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(
         |  graft.core.S2.parents($cell, $lvlRef));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): S2AncestorsExpr =
    copy(child = newChild)
}

/** Native H3 cell assignment (north-rule dual index) — same codegen shape as
  * S2CellAt16, sharing its unit vector when both encode the same row. */
case class Hex7CellAt(left: Expression, right: Expression, res: Int)
    extends BinaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def prettyName: String = s"hex7_cell$res"

  override protected def nullSafeEval(lat: Any, lng: Any): Any =
    graft.core.Hex7.fromLatLngDegreesFast(lat.asInstanceOf[Double], lng.asInstanceOf[Double], res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val memo = S2Expressions.xyzMemo(ctx)
    nullSafeCodeGen(ctx, ev, (lat, lng) => s"${ev.value} = $memo.hex7CellAt($lat, $lng, $res);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Hex7CellAt =
    copy(left = l, right = r)
}

/** ArrayData-walking even-odd ray cast: the SAME arithmetic as
  * `Geo.containsPlanar` (expression-for-expression — OpsSpec's brute-force
  * parity tests gate both), but reading Tungsten array storage directly so
  * the containment refine never materializes nested Seq[Seq[Double]] per
  * candidate row. */
object RingKernels {
  def containsRings(lat: Double, lng: Double,
                    ringsLat: org.apache.spark.sql.catalyst.util.ArrayData,
                    ringsLng: org.apache.spark.sql.catalyst.util.ArrayData): Boolean = {
    var odd = false
    var r = 0
    val nr = ringsLat.numElements()
    while (r < nr) {
      val ra = ringsLat.getArray(r)
      val rb = ringsLng.getArray(r)
      var inside = false
      val n = ra.numElements()
      var i = 0
      var j = n - 1
      while (i < n) {
        val yi = ra.getDouble(i); val xi = rb.getDouble(i)
        val yj = ra.getDouble(j); val xj = rb.getDouble(j)
        if (((yi > lat) != (yj > lat)) &&
            (lng < (xj - xi) * (lat - yi) / (yj - yi) + xi)) inside = !inside
        j = i
        i += 1
      }
      if (inside) odd = !odd
      r += 1
    }
    odd
  }
}

/** Native even-odd containment refine over the candidate join output:
  * (lat, lng, rings_lat, rings_lng) -> contained. Same truth table as
  * `Udfs.containsRings`, minus the per-row ScalaUDF encoder round-trip
  * (nested double arrays were boxed to Seq[Seq[Double]] per candidate). */
case class ContainsRingsExpr(first: Expression, second: Expression,
                             third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with Serializable {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "contains_rings"

  override protected def nullSafeEval(lat: Any, lng: Any, rlat: Any, rlng: Any): Any =
    RingKernels.containsRings(lat.asInstanceOf[Double], lng.asInstanceOf[Double],
      rlat.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      rlng.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lat, lng, rlat, rlng) =>
      s"${ev.value} = graft.functions.RingKernels.containsRings($lat, $lng, $rlat, $rlng);")

  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression, q: Expression): ContainsRingsExpr =
    copy(first = f, second = s, third = t, fourth = q)
}

object S2Expressions {
  /** The generated class's one `XyzMemo`: every S2CellAt16 and Hex7CellAt of
    * a codegen stage encodes through it. */
  private[functions] def xyzMemo(ctx: CodegenContext): String = {
    val cls = classOf[graft.core.XyzMemo].getName
    ctx.addImmutableStateIfNotExists(cls, "graftXyzMemo", v => s"$v = new $cls();")
    "graftXyzMemo"
  }

  /** Column-level entry point: `s2Cell16($"lat", $"lng")`. */
  def s2Cell16(lat: Column, lng: Column): Column =
    Bridge.column(S2CellAt16(Bridge.expression(lat), Bridge.expression(lng)))

  def hex7Cell(lat: Column, lng: Column, res: Int): Column =
    Bridge.column(Hex7CellAt(Bridge.expression(lat), Bridge.expression(lng), res))

  def s2Ancestors(cell: Column, levels: Array[Int]): Column =
    Bridge.column(S2AncestorsExpr(Bridge.expression(cell), levels))

  def containsRings(lat: Column, lng: Column,
                    ringsLat: Column, ringsLng: Column): Column =
    Bridge.column(ContainsRingsExpr(Bridge.expression(lat), Bridge.expression(lng),
      Bridge.expression(ringsLat), Bridge.expression(ringsLng)))

  def containmentProbe(cell16: Column, lat: Column, lng: Column,
                       index: graft.ops.PointProbe): Column =
    Bridge.column(ContainmentProbeExpr(Bridge.expression(cell16),
      Bridge.expression(lat), Bridge.expression(lng), index))

  def tileChain(lat: Column, lng: Column, zMin: Int, zMax: Int): Column =
    Bridge.column(TileChainExpr(Bridge.expression(lat), Bridge.expression(lng), zMin, zMax))

  /** (z, x, y) of a packed TileID column — `Tiles.tileId`'s layout: z in
    * the top `Tiles.ZBits`, then y << z, then x. Plain Column bit
    * arithmetic, so the decode fuses into the codegen stage of the chain
    * that packs the ids; the one place outside `Tiles` that knows the
    * layout. Unsigned shifts keep zooms >= 16 (sign bit set) exact. */
  def tileXYZ(tid: Column): (Column, Column, Column) = {
    val z = shiftrightunsigned(tid, 64 - Tiles.ZBits).cast("int")
    val mask = call_function("shiftleft", lit(1L), z) - 1
    (z, tid.bitwiseAND(mask), call_function("shiftrightunsigned", tid, z).bitwiseAND(mask))
  }
}
