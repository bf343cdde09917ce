package graft.functions

import graft.core.Hex
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Expression, QuaternaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The hex cells of res `res` that intersect a lon/lat bbox, in ONE static
  * kernel call per row (the S2RectCover pattern).
  *
  * Candidates are ceil(min − 0.67) .. floor(max + 0.67) per axis of the
  * bbox corners' float axial hull: the axial map is linear in lon/lat, so
  * the rect's axial image is exactly the corner hull, and an intersecting
  * hexagon's centre lies within circumradius `size` of the rect, i.e.
  * within 2/3 axial units of the hull (0.67 = 2/3 plus fp slack). Each
  * candidate then passes the exact hexagon-vs-rectangle separating-axis
  * test on 5 axes: world x/y and the hexagon's three edge normals.
  *
  * The same enumeration as Column expressions (double explode + a 5-axis
  * filter tree) took twice as long per doc. This kernel keeps its op order
  * and per-res constants, so DocOps.geomCellCoverHexSql stays a
  * bit-identical DuckDB oracle. Inputs are assumed finite. */
case class HexRectCover(lonMin: Expression, latMin: Expression,
                        lonMax: Expression, latMax: Expression, res: Int)
    extends QuaternaryExpression {
  require(res >= 0 && res <= Hex.MaxRes, s"hex res $res outside 0..${Hex.MaxRes}")

  override def first: Expression = lonMin
  override def second: Expression = latMin
  override def third: Expression = lonMax
  override def fourth: Expression = latMax

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    HexRectCover.cells(a.asInstanceOf[Double], b.asInstanceOf[Double],
      c.asInstanceOf[Double], d.asInstanceOf[Double], res)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.HexRectCover.cells($a, $b, $c, $d, $res)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression, q: Expression): HexRectCover =
    copy(lonMin = f, latMin = s, lonMax = t, latMax = q)

  override def prettyName: String = "hex_rect_cover"
}

object HexRectCover {

  private val Sq3 = math.sqrt(3.0)
  private val Bias = 1L << 28

  /** The per-res literals the SQL mirror prints, computed once per res. */
  private final class Consts(res: Int) {
    val co = Hex.cosT(res); val si = Hex.sinT(res); val sz = Hex.size(res)
    val supX = Hex.supportX(res); val supY = Hex.supportY(res); val apo = Hex.apothem(res)
    val ux = Hex.normalAngles(res).map(math.cos).toArray
    val uy = Hex.normalAngles(res).map(math.sin).toArray
    val aux = ux.map(math.abs); val auy = uy.map(math.abs)
  }
  private val consts = Array.tabulate(Hex.MaxRes + 1)(new Consts(_))

  def cells(lonMin: Double, latMin: Double, lonMax: Double, latMax: Double,
            res: Int): ArrayData = {
    val k = consts(res)
    import k._
    var qLo = Double.MaxValue; var qHi = -Double.MaxValue
    var rLo = Double.MaxValue; var rHi = -Double.MaxValue
    var c = 0
    while (c < 4) {
      val lon = if ((c & 1) == 0) lonMin else lonMax
      val lat = if (c < 2) latMin else latMax
      val x = co * lon + si * lat
      val y = -si * lon + co * lat
      val qf = (Sq3 / 3.0 * x - 1.0 / 3.0 * y) / sz
      val rf = (2.0 / 3.0 * y) / sz
      qLo = math.min(qLo, qf); qHi = math.max(qHi, qf)
      rLo = math.min(rLo, rf); rHi = math.max(rHi, rf)
      c += 1
    }
    val q0 = math.ceil(qLo - 0.67).toLong; val q1 = math.floor(qHi + 0.67).toLong
    val r0 = math.ceil(rLo - 0.67).toLong; val r1 = math.floor(rHi + 0.67).toLong
    val nCand = (q1 - q0 + 1) * (r1 - r0 + 1)
    require(nCand >= 1 && nCand <= Int.MaxValue / 8,
      s"hex cover of ($lonMin,$latMin,$lonMax,$latMax) at res $res has $nCand candidates")
    val rcx = (lonMin + lonMax) / 2.0; val rcy = (latMin + latMax) / 2.0
    val hw = (lonMax - lonMin) / 2.0; val hh = (latMax - latMin) / 2.0
    val nLim0 = apo + hw * aux(0) + hh * auy(0)
    val nLim1 = apo + hw * aux(1) + hh * auy(1)
    val nLim2 = apo + hw * aux(2) + hh * auy(2)
    val out = new Array[Long](nCand.toInt)
    var n = 0
    var hq = q0
    while (hq <= q1) {
      var hr = r0
      while (hr <= r1) {
        val lx = sz * (Sq3 * hq + Sq3 / 2.0 * hr)
        val ly = sz * (1.5 * hr)
        val dx = (co * lx - si * ly) - rcx
        val dy = (si * lx + co * ly) - rcy
        if (!(math.abs(dx) > supX + hw || math.abs(dy) > supY + hh ||
              math.abs(dx * ux(0) + dy * uy(0)) > nLim0 ||
              math.abs(dx * ux(1) + dy * uy(1)) > nLim1 ||
              math.abs(dx * ux(2) + dy * uy(2)) > nLim2)) {
          out(n) = (((hq + Bias) << 29) | (hr + Bias)) << 5 | res.toLong
          n += 1
        }
        hr += 1
      }
      hq += 1
    }
    // UnsafeArrayData over the first n slots: the codegen'd explode reads
    // it with no Generic->Unsafe conversion and no trimming copy
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, n, 8)
  }

  def column(lonMin: Column, latMin: Column, lonMax: Column, latMax: Column,
             res: Int): Column =
    GraftSqlBridge.column(HexRectCover(
      GraftSqlBridge.expression(lonMin), GraftSqlBridge.expression(latMin),
      GraftSqlBridge.expression(lonMax), GraftSqlBridge.expression(latMax), res))
}
