package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class CellsSpec extends SparkTestBase {

  test("cellId roundtrip: level/ix/iy recovered, point inside cell bounds") {
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val lon = rnd.nextDouble() * 359.8 - 179.9
      val lat = rnd.nextDouble() * 179.8 - 89.9
      val level = 1 + rnd.nextInt(15)
      val id = Cells.cellId(lon, lat, level)
      assert(Cells.cellLevel(id) == level)
      val b = Cells.cellBounds(id)
      assert(lon >= b.minx - 1e-9 && lon <= b.maxx + 1e-9)
      assert(lat >= b.miny - 1e-9 && lat <= b.maxy + 1e-9)
      val (ix, iy) = Cells.latLonToIxIy(lon, lat, level)
      assert(Cells.cellIx(id) == ix && Cells.cellIy(id) == iy)
    }
  }

  test("parent cell contains child") {
    val id = Cells.cellId(-93.2, 45.4, 12)
    val p = Cells.parent(id, 8)
    assert(Cells.cellLevel(p) == 8)
    val cb = Cells.cellBounds(id); val pb = Cells.cellBounds(p)
    assert(pb.minx <= cb.minx && pb.maxx >= cb.maxx && pb.miny <= cb.miny && pb.maxy >= cb.maxy)
  }

  test("coverBounds covers every point of the bbox") {
    val b = Bounds(-93.5, 45.0, -92.8, 45.6)
    val cover = Cells.coverBounds(b, 10).toSet
    for (i <- 0 to 20; j <- 0 to 20) {
      val lon = b.minx + (b.maxx - b.minx) * i / 20.0
      val lat = b.miny + (b.maxy - b.miny) * j / 20.0
      assert(cover.contains(Cells.cellId(lon, lat, 10)), s"point $lon,$lat")
    }
  }

  test("ring(k) contains the centre and 8 neighbours at k=1") {
    val id = Cells.cellId(-93.2, 45.4, 10)
    val r1 = Cells.ring(id, 1)
    assert(r1.size == 9 && r1.contains(id))
    assert(Cells.ring(id, 2).size == 25)
  }

  test("hilbert index is a bijection on an 8x8 grid and adjacent-ish") {
    val order = 3
    val all = for (x <- 0 until 8; y <- 0 until 8) yield Cells.hilbertIndex(x, y, order)
    assert(all.toSet.size == 64 && all.min == 0 && all.max == 63)
    // consecutive hilbert positions are grid neighbours (curve continuity)
    val byD = (for (x <- 0 until 8; y <- 0 until 8)
      yield Cells.hilbertIndex(x, y, order) -> (x, y)).toMap
    (0 until 63).foreach { d =>
      val (x1, y1) = byD(d); val (x2, y2) = byD(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1, s"jump at d=$d")
    }
  }

  test("cellIdColumn (pure builtin arithmetic) equals scala cellId") {
    import spark.implicits._
    val pts = Seq((-93.2, 45.4), (-179.99, -89.99), (179.99, 89.99), (0.0, 0.0),
                  (-77.5, 45.1), (12.34, -56.78))
    val df = pts.toDF("lon", "lat")
    for (level <- Seq(4, 10, 15)) {
      val got = df.select(Cells.cellIdColumn(col("lon"), col("lat"), level)).collect().map(_.getLong(0))
      val exp = pts.map { case (lo, la) => Cells.cellId(lo, la, level) }
      assert(got.toSeq == exp, s"level $level")
    }
  }

  test("s2-style cells: face selection, hierarchy, scalar == Column") {
    // axis points land on the expected cube faces
    assert(Cells.s2FaceUv(0, 0)._1 == 0)     // +x
    assert(Cells.s2FaceUv(90, 0)._1 == 1)    // +y
    assert(Cells.s2FaceUv(0, 89.9)._1 == 2)  // +z
    assert(Cells.s2FaceUv(179.9, 0)._1 == 3) // -x
    assert(Cells.s2FaceUv(-90, 0)._1 == 4)   // -y
    assert(Cells.s2FaceUv(0, -89.9)._1 == 5) // -z
    // hierarchy: the level-(L-1) id of a point is the parent of its level-L id
    val s2pts = Seq((-93.1, 44.7), (12.7, -33.2), (151.2, 61.9), (-179.3, -5.0))
    for ((lon, lat) <- s2pts; l <- 5 to 12) {
      val id = Cells.s2CellId(lon, lat, l)
      assert(Cells.s2Parent(id, l, l - 1) == Cells.s2CellId(lon, lat, l - 1),
        s"($lon,$lat) level $l")
      assert(Cells.s2Face(id, l) == Cells.s2FaceUv(lon, lat)._1)
    }
    // Column form agrees with the scalar form on a generated sample
    import spark.implicits._
    val sample = (0 until 500).map { i =>
      (i.toLong, -180.0 + (i * 7919 % 3600) / 10.0, -89.0 + (i * 104729 % 1780) / 10.0)
    }
    val got = sample.toDF("id", "lon", "lat")
      .withColumn("cell", Cells.s2CellIdColumn(col("lon"), col("lat"), 10))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    sample.foreach { case (id, lon, lat) =>
      assert(got(id) == Cells.s2CellId(lon, lat, 10), s"point $id ($lon,$lat)")
    }
  }

  test("staged withS2CellId / Hex.withCellId are bit-identical to the Column forms") {
    // the staged S2 form exists because the single-Column tree explodes to
    // ~40k nodes (10 MB task binaries re-deserialized per task — the
    // round-4 S2 flagship GC stall); identical per-row results required.
    // The hex id is a single kernel call (functions.HexCellId), checked in
    // both codegen and interpreted mode.
    import spark.implicits._
    val sample = (0 until 2000).map { i =>
      (i.toLong, -180.0 + (i * 7919 % 3600) / 10.0, -89.0 + (i * 104729 % 1780) / 10.0)
    }
    val df = sample.toDF("id", "lon", "lat")
    for (level <- Seq(7, 10, 12)) {
      val staged = Cells.withS2CellId(df, col("lon"), col("lat"), level, "cell")
        .select("id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      sample.foreach { case (id, lon, lat) =>
        assert(staged(id) == Cells.s2CellId(lon, lat, level),
          s"s2 point $id ($lon,$lat) level $level")
      }
    }
    val rdd = spark.sparkContext.parallelize(sample, 4).toDF("id", "lon", "lat")
    inBothCodegenModes { mode =>
      for (res <- Seq(5, 8)) {
        val kernel = rdd.select(col("id"),
          graft.functions.HexCellId.column(col("lon"), col("lat"), res).as("cell"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(kernel.size == sample.size, s"$mode hex res $res")
        sample.foreach { case (id, lon, lat) =>
          assert(kernel(id) == Hex.cellId(lon, lat, res), s"$mode hex point $id res $res")
        }
      }
    }
  }
}
