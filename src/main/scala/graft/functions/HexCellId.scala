package graft.functions

import graft.core.Hex
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Packed hex cell id of a lon/lat point in ONE static call to the scalar
  * [[Hex.cellId]] per row.
  *
  * The Column formulation re-inlined the axial-float trees into every
  * cube-round branch; staged through chained Projects it still re-inlined
  * inside a broadcast join, where the tile side compiled to a 47,848-byte
  * method, far past HotSpot's 8,000-byte JIT limit and recompiled by Janino
  * on every cold plan. The DuckDB text of Hex.cellIdSql mirrors Hex.cellId
  * (same literals, same op order, half-up floor). */
case class HexCellId(lon: Expression, lat: Expression, res: Int)
    extends BinaryExpression {

  override def left: Expression = lon
  override def right: Expression = lat

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any =
    Hex.cellId(a.asInstanceOf[Double], b.asInstanceOf[Double], res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.core.Hex.cellId($a, $b, $res)")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): HexCellId = copy(lon = l, lat = r)

  override def prettyName: String = "hex_cell_id"
}

object HexCellId {
  def column(lon: Column, lat: Column, res: Int): Column =
    GraftSqlBridge.column(HexCellId(
      GraftSqlBridge.expression(lon), GraftSqlBridge.expression(lat), res))
}
