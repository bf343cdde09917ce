package graft.core

import graft.SparkTestBase
import graft.functions.HexCellId
import org.apache.spark.sql.functions._

/** H3-style aperture-7 hex index: scalar/Column lockstep, id packing,
  * kRing/distance/parent invariants. */
class HexSpec extends SparkTestBase {

  test("id packs (q, r, res) losslessly incl. negatives") {
    for (q <- Seq(-200000L, -1L, 0L, 1L, 987654L); r <- Seq(-7L, 0L, 31337L); res <- Seq(0, 8, 15)) {
      val id = Hex.pack(q, r, res)
      assert(Hex.q(id) == q && Hex.r(id) == r && Hex.res(id) == res)
    }
  }

  test("Column cell id equals the scalar for a grid of points at several res") {
    import spark.implicits._
    val pts = (for (i <- -20 to 20; j <- -10 to 10)
      yield (i * 7.3 + 0.01 * j, j * 6.1 + 0.007 * i)).toSeq
    // an RDD-backed frame: a local Seq would be folded by the optimizer
    // and never reach the executed projection
    val df = spark.sparkContext.parallelize(pts, 2).toDF("lon", "lat")
    inBothCodegenModes { mode =>
      for (res <- Seq(0, 4, 8, 12)) {
        val got = df.select(col("lon"), col("lat"),
          HexCellId.column(col("lon"), col("lat"), res).as("c")).collect()
        assert(got.length == pts.size)
        got.foreach { r =>
          val exp = Hex.cellId(r.getDouble(0), r.getDouble(1), res)
          assert(r.getLong(2) == exp, s"$mode: (${r.getDouble(0)},${r.getDouble(1)}) res $res")
        }
      }
    }
  }

  test("cell centre maps back to its own cell (round-trip containment)") {
    for (res <- Seq(2, 8, 12); lon <- Seq(-104.2, 3.7, 141.9); lat <- Seq(-33.3, 0.2, 45.4)) {
      val id = Hex.cellId(lon, lat, res)
      val (clon, clat) = Hex.center(id)
      assert(Hex.cellId(clon, clat, res) == id, s"res $res ($lon,$lat)")
    }
  }

  test("kRing has 3k^2+3k+1 cells, all within distance k, containing the centre") {
    val id = Hex.cellId(-104.1, 45.3, 8)
    for (k <- Seq(0, 1, 2, 3)) {
      val ring = Hex.kRing(id, k)
      assert(ring.size == 3 * k * k + 3 * k + 1)
      assert(ring.contains(id))
      assert(ring.forall(c => Hex.distance(id, c) <= k))
      assert(ring.distinct.size == ring.size)
    }
    // a neighbour's ring overlaps but is not equal
    val n = Hex.kRing(id, 1).filter(_ != id).head
    assert(Hex.distance(id, n) == 1)
  }

  test("parenting: every res-9 cell centre-contains into one res-8 parent near the fixture") {
    val pts = for (i <- 0 until 50) yield (-104.0 + i * 0.013, 45.0 + (i % 7) * 0.011)
    pts.foreach { case (lon, lat) =>
      val child = Hex.cellId(lon, lat, 9)
      val parent = Hex.parent(child, 8)
      assert(Hex.res(parent) == 8)
      // the child's centre lies in the parent (definition), and the parent's
      // area is ~7x the child's: the point's own res-8 cell is the parent of
      // its res-9 cell for the vast majority of points; assert on centres
      val (clon, clat) = Hex.center(child)
      assert(Hex.cellId(clon, clat, 8) == parent)
    }
  }

  test("cube-round property: assigned hex centre is the nearest of all kRing centres") {
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 300) {
      val lon = rnd.nextDouble() * 360 - 180
      val lat = rnd.nextDouble() * 170 - 85
      val res = 2 + rnd.nextInt(9)
      val id = Hex.cellId(lon, lat, res)
      val (clon, clat) = Hex.center(id)
      val d0 = (lon - clon) * (lon - clon) + (lat - clat) * (lat - clat)
      // no neighbour centre is strictly closer (ties possible only on exact
      // hex boundaries, measure zero for random points)
      Hex.kRing(id, 1).filter(_ != id).foreach { n =>
        val (nlon, nlat) = Hex.center(n)
        val dn = (lon - nlon) * (lon - nlon) + (lat - nlat) * (lat - nlat)
        assert(dn >= d0, s"($lon,$lat) res $res: neighbour $n closer than own cell")
      }
    }
  }

  test("aperture-7 scaling: cell size shrinks by sqrt(7) per res") {
    for (res <- 0 until 15)
      assert(math.abs(Hex.size(res) / Hex.size(res + 1) - math.sqrt(7.0)) < 1e-12)
  }
}
