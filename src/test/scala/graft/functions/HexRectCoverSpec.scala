package graft.functions

import graft.SparkTestBase
import graft.core.{Hex, Synth}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The hex cover kernel against a brute-force reference: every (q, r) in
  * the bbox's axial hull widened by ±3 axial units (the kernel's margin is
  * 2/3), filtered by the same separating-axis test. Equality on the
  * flagship bbox distribution proves the ±0.67 candidate margin drops no
  * cell; the degenerate boxes cover the edges of that argument. Every case
  * runs through Spark with codegen and fully interpreted. */
class HexRectCoverSpec extends SparkTestBase {
  import HexRectCoverSpec._

  type Box = (Double, Double, Double, Double) // lonMin, latMin, lonMax, latMax

  /** Kernel covers per box index, evaluated in Spark. */
  private def kernel(boxes: Seq[Box], res: Int): Map[Long, Set[Long]] = {
    import spark.implicits._
    val df = spark.sparkContext.parallelize(
      boxes.zipWithIndex.map { case ((a, b, c, d), i) => (i.toLong, a, b, c, d) }, 4)
      .toDF("i", "lon_min", "lat_min", "lon_max", "lat_max")
    cover(df, res).collect().groupBy(_.getLong(0))
      .map { case (i, rows) => i -> rows.map(_.getLong(1)).toSet }
  }

  private def cover(df: DataFrame, res: Int): DataFrame =
    df.select(col("i"), explode(HexRectCover.column(col("lon_min"), col("lat_min"),
      col("lon_max"), col("lat_max"), res)).as("cell_id"))

  private def assertMatches(boxes: Seq[Box], res: Int, mode: String): Map[Long, Set[Long]] = {
    val got = kernel(boxes, res)
    val refs = scala.collection.mutable.Map.empty[Box, Set[Long]]
    boxes.zipWithIndex.foreach { case (b, i) =>
      // flagship bboxes repeat with doc_id mod 180: one reference each
      val want = refs.getOrElseUpdate(b, reference(b, res))
      assert(got.getOrElse(i.toLong, Set.empty) == want,
        s"$mode res $res box $b: kernel ${got.get(i.toLong)} vs reference $want")
    }
    got
  }

  test("kernel equals the widened brute-force SAT on the flagship bboxes, res 4-7") {
    val boxes = (0L until 20000L).map(flagshipBbox)
    inBothCodegenModes { mode =>
      for (res <- 4 to 7) {
        val got = assertMatches(boxes, res, mode)
        assert(got.size == boxes.size, s"$mode res $res: a box got no cell")
      }
    }
  }

  test("degenerate boxes: point, zero width, zero height, hex vertex") {
    val lon = -104.37; val lat = 45.21
    inBothCodegenModes { mode =>
      for (res <- Seq(4, 6, 9)) {
        val sz = Hex.size(res)
        // a vertex of the point's hex: pointy-top vertices at 90° + k*60°
        val (cx, cy) = Hex.center(Hex.cellId(lon, lat, res))
        val va = math.toRadians(90.0) + res * Hex.Alpha
        val (vx, vy) = (cx + sz * math.cos(va), cy + sz * math.sin(va))
        val eps = sz * 1e-6
        val boxes = Seq[Box](
          (lon, lat, lon, lat),                   // point
          (lon, lat - 2 * sz, lon, lat + 2 * sz), // zero width
          (lon - 2 * sz, lat, lon + 2 * sz, lat), // zero height
          (vx, vy, vx, vy),                       // exactly on a vertex
          (vx - eps, vy - eps, vx + eps, vy + eps)) // centred on a vertex
        // box 3 is only checked against the reference: the SAT compares
        // against fp-rounded supports (as the DuckDB mirror does), so a
        // zero-area box on a computed vertex can fall outside all three
        // hexes and get an empty cover (it does at res 4); box 4 around it
        // is covered by all three
        val got = assertMatches(boxes, res, mode)
        assert(got(0L).contains(Hex.cellId(lon, lat, res)), s"$mode res $res point")
        for (k <- 0 to 20) {
          val t = -2 * sz + 4 * sz * k / 20.0
          assert(got(1L).contains(Hex.cellId(lon, lat + t, res)), s"$mode res $res zero width")
          assert(got(2L).contains(Hex.cellId(lon + t, lat, res)), s"$mode res $res zero height")
        }
        // three hexes meet at a vertex; a box around it touches all three
        val around = (0 until 3).map { k =>
          val a = va + math.toRadians(60.0 + 120.0 * k)
          Hex.cellId(vx + eps / 2 * math.cos(a), vy + eps / 2 * math.sin(a), res)
        }.toSet
        assert(around.size == 3, s"res $res: vertex probe points share a hex")
        assert(around.subsetOf(got(4L)), s"$mode res $res vertex box ${got(4L)} misses $around")
      }
    }
  }

  test("an empty input frame yields an empty cover") {
    import spark.implicits._
    val empty = spark.sparkContext.emptyRDD[(Long, Double, Double, Double, Double)]
      .toDF("i", "lon_min", "lat_min", "lon_max", "lat_max")
    inBothCodegenModes { mode =>
      assert(cover(empty, 6).count() == 0, mode)
    }
  }
}

object HexRectCoverSpec {
  private val Sq3 = math.sqrt(3.0)

  /** A doc geometry's lon/lat bbox as the flagship builds it: the 12-pixel
    * square at (id*7 % 180, id*13 % 180) of the MODIS grid, inverse
    * projected at its four corners. */
  def flagshipBbox(id: Long): (Double, Double, Double, Double) = {
    val grid = Synth.modisGrid
    val t = grid.transform
    val c0 = (id * 7 % 180).toDouble; val r0 = (id * 13 % 180).toDouble
    val xMin = t.a * c0 + t.c; val xMax = t.a * (c0 + 12) + t.c
    val yMax = t.e * r0 + t.f; val yMin = t.e * (r0 + 12) + t.f
    val corners = Seq((xMin, yMin), (xMin, yMax), (xMax, yMin), (xMax, yMax))
      .map { case (x, y) => grid.crs.proj.inverse(x, y) }
    (corners.map(_._1).min, corners.map(_._2).min,
     corners.map(_._1).max, corners.map(_._2).max)
  }

  /** Brute force: every (q, r) within 3 axial units of the bbox corners'
    * axial hull that the 5-axis hexagon-vs-rectangle SAT keeps. No kept
    * cell may sit on the window's border, or the window itself cut it. */
  def reference(b: (Double, Double, Double, Double), res: Int): Set[Long] = {
    val (lo, la, hi, lb) = b
    val sz = Hex.size(res)
    val co = Hex.cosT(res); val si = Hex.sinT(res)
    def axf(lon: Double, lat: Double): (Double, Double) = {
      val x = co * lon + si * lat; val y = -si * lon + co * lat
      ((Sq3 / 3.0 * x - 1.0 / 3.0 * y) / sz, (2.0 / 3.0 * y) / sz)
    }
    val cs = Seq(axf(lo, la), axf(hi, la), axf(lo, lb), axf(hi, lb))
    val q0 = math.floor(cs.map(_._1).min).toLong - 3; val q1 = math.ceil(cs.map(_._1).max).toLong + 3
    val r0 = math.floor(cs.map(_._2).min).toLong - 3; val r1 = math.ceil(cs.map(_._2).max).toLong + 3
    val rcx = (lo + hi) / 2.0; val rcy = (la + lb) / 2.0
    val hw = (hi - lo) / 2.0; val hh = (lb - la) / 2.0
    val (supX, supY, apo) = (Hex.supportX(res), Hex.supportY(res), Hex.apothem(res))
    val normals = Hex.normalAngles(res).map(a => (math.cos(a), math.sin(a)))
    val kept = for {
      hq <- q0 to q1; hr <- r0 to r1
      lx = sz * (Sq3 * hq + Sq3 / 2.0 * hr); ly = sz * (1.5 * hr)
      dx = (co * lx - si * ly) - rcx; dy = (si * lx + co * ly) - rcy
      if !(math.abs(dx) > supX + hw) && !(math.abs(dy) > supY + hh) &&
         normals.forall { case (ux, uy) =>
           !(math.abs(dx * ux + dy * uy) > apo + hw * math.abs(ux) + hh * math.abs(uy))
         }
    } yield (hq, hr)
    assert(kept.forall { case (q, r) => q > q0 && q < q1 && r > r0 && r < r1 },
      s"reference window too narrow for $b at res $res")
    kept.map { case (q, r) => Hex.pack(q, r, res) }.toSet
  }
}
