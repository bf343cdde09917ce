package perfbench

import graft.core.{Affine, Crs, GridRef, Synth}
import graft.ops.{MergeOps, Raster, TileMerge, TileWarp, WarpOps}
import graft.sources.{GraftDataSource, GraftInputPartition, GraftScan}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Merge then reproject two overlapping seeded rasters, on the pixel path
  * (MergeOps.merge -> WarpOps.reprojectNearest) and on the tile path
  * (TileWarp.pack -> TileMerge.mergeTiles -> reprojectNearestPacked ->
  * toPixels); then write the merged raster as a format("graft") store and
  * run seeded windowed reads against it. Exchange-heavy, with writes
  * beside reads.
  *
  * Source B is source A's grid shifted by a quarter of its side, so the
  * union is (5/4 side)^2 pixels and the sources overlap on (3/4 side)^2. */
final class RasterStore(side: Int, tileSize: Int, storeTile: Int,
                        readsPerPass: Int, maxWindow: Int, warmSide: Int) extends Workload {
  val name = "raster_store"
  // the first pass still runs partly before the JIT has compiled the
  // tile kernels; the median of three is a warm pass
  val minPasses = 3
  val maxPasses = 50
  require(side % 4 == 0 && tileSize % 4 == 0 && side % tileSize == 0 &&
    (side + side / 4) % storeTile == 0)

  private val off = side / 4
  private val gridA: GridRef = Synth.modisGrid.copy(
    transform = Synth.modisGrid.transform.compose(Affine.scale(200.0 / side, 200.0 / side)),
    width = side, height = side)
  private val gridB: GridRef = gridA.copy(transform = gridA.transform.windowed(off, off))
  private val union = side + off
  private val nodata = gridA.nodata.toLong

  private var seed = 0L
  private var srcA = ""
  private var srcB = ""
  private var store = ""

  /** Per-pass pixel checksum, so the tile path is compared with the pixel
    * path of the same pass. */
  private val pixelSums = mutable.Map.empty[Int, Checksum.Sum]
  /** Traced reads: planning milliseconds and the pixels the scan decodes. */
  private val readPlans = mutable.Map.empty[String, (Double, Long)]
  private val readWindows = mutable.Map.empty[String, (Long, Long, Long, Long)]

  private def sources(spark: SparkSession): Seq[Raster] =
    Seq(Raster(spark.read.parquet(srcA), gridA), Raster(spark.read.parquet(srcB), gridB))

  private def dst(merged: GridRef): GridRef = GridRef.suggestedWarpOutput(merged, Crs.WGS84)

  private def pixelPath(spark: SparkSession): DataFrame = {
    val merged = MergeOps.merge(sources(spark), "first")
    WarpOps.reprojectNearest(merged, dst(merged.grid)).df
  }

  private def packed(spark: SparkSession): Seq[(DataFrame, GridRef)] =
    sources(spark).map(r => TileWarp.pack(r, tileSize) -> r.grid)

  private def tilePath(spark: SparkSession): DataFrame = {
    val (tiles, grid) = TileMerge.mergeTiles(packed(spark), "first", tileSize)
    val d = dst(grid)
    val warped = TileWarp.reprojectNearestPacked(
      tiles.toDF().withColumnRenamed("tile_row", "st_row").withColumnRenamed("tile_col", "st_col"),
      grid, d, tileSize)
    TileWarp.toPixels(warped, d, tileSize)
  }

  private def writeStore(spark: SparkSession, path: String): Unit = {
    val merged = MergeOps.merge(sources(spark), "first")
    val g = merged.grid
    merged.df.write.format("graft").mode("overwrite")
      .option("crs", g.crs.key).option("transform", g.transform.toGdal)
      .option("width", g.width.toString).option("height", g.height.toString)
      .option("nodata", g.nodata.toString).option("tile_size", storeTile.toString)
      .save(path)
  }

  /** The input tables' values, row-major, collected once in set-up; the
    * read checks cut their windows from these, untimed. */
  private var valuesA: Array[Long] = Array.emptyLongArray
  private var valuesB: Array[Long] = Array.emptyLongArray

  private def collectValues(spark: SparkSession, path: String): Array[Long] = {
    val v = Array.fill(side * side)(nodata)
    spark.read.parquet(path).select("row", "col", "value").collect()
      .foreach(r => v((r.getLong(0) * side + r.getLong(1)).toInt) = r.getLong(2))
    v
  }

  /** The merged value at union pixel (r, c), "first" merge: A where A has
    * data, else B. */
  private def merged(r: Long, c: Long): Long = {
    val a = if (r < side && c < side) valuesA((r * side + c).toInt) else nodata
    if (a != nodata) a
    else {
      val br = r - off; val bc = c - off
      if (br >= 0 && bc >= 0 && br < side && bc < side) valuesB((br * side + bc).toInt) else nodata
    }
  }
  private def windowSums(r0: Long, r1: Long, c0: Long, c1: Long): Seq[Long] = {
    var n, s, sr, sc = 0L
    var r = r0
    while (r <= r1) {
      var c = c0
      while (c <= c1) {
        val v = merged(r, c)
        n += 1; s += v; sr += v * r; sc += v * c
        c += 1
      }
      r += 1
    }
    Seq(n, s, sr, sc)
  }

  private def readWindow(spark: SparkSession, r0: Long, r1: Long, c0: Long, c1: Long): DataFrame =
    spark.read.format("graft").load(store)
      .filter(col("row") >= r0 && col("row") <= r1 && col("col") >= c0 && col("col") <= c1)
      .agg(count(lit(1)), sum(col("value")), sum(col("value") * col("row")),
        sum(col("value") * col("col")))

  private object Plans extends AdaptiveSparkPlanHelper

  private def writeInputs(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    this.seed = seed
    val seedA = 2 * (seed % 1000000L) + 1
    val seedB = 2 * (seed % 1000000L) + 2
    srcA = s"${dirs.work}/raster_a.parquet"
    srcB = s"${dirs.work}/raster_b.parquet"
    store = s"${dirs.work}/store"
    val parts = spark.sparkContext.defaultParallelism
    Synth.pixels(spark, gridA, seed = seedA, parallelism = parts).write.mode("overwrite").parquet(srcA)
    Synth.pixels(spark, gridB, seed = seedB, parallelism = parts).write.mode("overwrite").parquet(srcB)
  }

  def setup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    writeInputs(spark, dirs, seed)
    valuesA = collectValues(spark, srcA)
    valuesB = collectValues(spark, srcB)
  }

  /** One unchecked pass on a smaller raster of another seed, large enough
    * that the per-pixel code is compiled before the first timed pass. */
  def warmup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    val small = new RasterStore(side = warmSide, tileSize = warmSide / 2,
      storeTile = (warmSide + warmSide / 4) / 2, readsPerPass = 1, maxWindow = 20, warmSide = warmSide)
    val wd = dirs.copy(work = s"${dirs.work}/warmup")
    small.writeInputs(spark, wd, seed + 7919L)
    Checksum.collect(small.pixelPath(spark))
    Checksum.collect(small.tilePath(spark))
    small.writeStore(spark, small.store)
    small.readWindow(spark, 0, 19, 0, 19).collect()
  }

  def pass(h: Harness): Unit = {
    val spark = h.spark
    val p = h.pass
    h.call("raster_store.pixel_path", "pixel") {
      Checksum.collect(pixelPath(spark))
    } { s => pixelSums(p) = s; if (s.rows > 0) None else Some("empty output") }
    h.call("raster_store.tile_path", "tile") {
      Checksum.collect(tilePath(spark))
    } { s =>
      pixelSums.get(p) match {
        case Some(px) if px == s => None
        case Some(px) => Some(s"tile-path checksum $s differs from pixel path $px")
        case None => Some("no pixel-path checksum to compare with")
      }
    }
    h.call("raster_store.write", "write")(writeStore(spark, store))(_ => None)
    val rnd = new scala.util.Random(seed * 1000003L + p)
    (0 until readsPerPass).foreach { i =>
      val hgt = 1 + rnd.nextInt(maxWindow); val wid = 1 + rnd.nextInt(maxWindow)
      val r0 = rnd.nextInt(union - hgt + 1).toLong; val c0 = rnd.nextInt(union - wid + 1).toLong
      val (r1, c1) = (r0 + hgt - 1, c0 + wid - 1)
      val name = s"raster_store.read.$p.$i"
      readWindows(name) = (r0, r1, c0, c1)
      var planMs = 0.0
      var parts = Seq.empty[GraftInputPartition]
      h.call(name, "read") {
        val df = readWindow(spark, r0, r1, c0, c1)
        if (h.trace) {
          val t0 = System.nanoTime()
          parts = Plans.collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
            .flatMap(_.inputPartitions.collect { case g: GraftInputPartition => g })
          planMs = (System.nanoTime() - t0) / 1e6
        }
        val r = df.collect()(0)
        (0 until 4).map(k => if (r.isNullAt(k)) 0L else r.getLong(k))
      } { got =>
        // the next write sweeps this generation's files, so count now
        if (h.trace) readPlans(name) = (planMs, decodedPx(spark, parts))
        val want = windowSums(r0, r1, c0, c1)
        if (got == want) None else Some(s"window [$r0..$r1]x[$c0..$c1] read $got, want $want")
      }
    }
  }

  private def mergedPx: Double = union.toDouble * union

  def figures(h: Harness): Seq[Figure] = {
    def rate(name: String, kind: String) = {
      val calls = h.timedCalls(kind)
      Figure(name, mergedPx / Stats.median(calls.map(_.seconds)), "px/s", calls.size)
    }
    val reads = h.timedCalls("read").map(_.millis)
    Seq(rate("pixel_path_px_per_s", "pixel"), rate("tile_path_px_per_s", "tile"),
      rate("write_px_per_s", "write"),
      Figure("read_p50_ms", Stats.quantile(reads, 0.5), "ms", reads.size),
      Figure("read_p90_ms", Stats.quantile(reads, 0.9), "ms", reads.size))
  }

  /** Tiles a read decodes: every record of each row group that survives
    * pruning is materialized, tile array included. */
  private def decodedPx(spark: SparkSession, parts: Seq[GraftInputPartition]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    parts.map { p =>
      val ts = p.tileSize
      val (t0r, t1r, t0c, t1c) = (p.rowMin / ts, p.rowMax / ts, p.colMin / ts, p.colMax / ts)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p.file), conf))
      try reader.getFooter.getBlocks.asScala
        .filter(b => GraftScan.overlaps(b, t0r, t1r, t0c, t1c)).map(_.getRowCount).sum * ts * ts
      finally reader.close()
    }.sum
  }
  def layerProbes(h: Harness): Map[String, Double] = {
    val spark = h.spark
    def prefix(label: String)(a: => Any): Double = {
      val t0 = System.nanoTime()
      h.probe(label)(a)
      (System.nanoTime() - t0) / 1e9
    }
    def med(kind: String)(f: GroupStats => Double): Double =
      Stats.median(h.timedCalls(kind).map(c => f(h.listener.get(c.group))))
    val mergeS = prefix("ops.merge")(Checksum.collect(MergeOps.merge(sources(spark), "first").df))
    val warpS = prefix("ops.warp")(Checksum.collect(pixelPath(spark)))
    val packS = prefix("ops.pack")(packed(spark).foreach { case (t, _) => t.agg(sum(size(col("data")))).collect() })
    val tileMergeS = prefix("ops.tile_merge") {
      TileMerge.mergeTiles(packed(spark), "first", tileSize)._1.toDF().agg(sum(size(col("data")))).collect()
    }
    val tileWarpS = prefix("ops.tile_warp") {
      val (tiles, grid) = TileMerge.mergeTiles(packed(spark), "first", tileSize)
      TileWarp.reprojectNearestPacked(
        tiles.toDF().withColumnRenamed("tile_row", "st_row").withColumnRenamed("tile_col", "st_col"),
        grid, dst(grid), tileSize).toDF().agg(sum(size(col("data")))).collect()
    }
    val unpackS = prefix("ops.unpack")(Checksum.collect(tilePath(spark)))

    val writes = h.timedCalls("write")
    val files = GraftDataSource.listDataFiles(store)
    val fs = new Path(store).getFileSystem(spark.sessionState.newHadoopConf())
    val reads = h.timedCalls("read")
    val plans = reads.flatMap(c => readPlans.get(c.name).map(c -> _))
    val useful = plans.map { case (c, _) =>
      val (r0, r1, c0, c1) = readWindows(c.name); (r1 - r0 + 1) * (c1 - c0 + 1)
    }.sum
    val decoded = plans.map(_._2._2).sum
    Map(
      "ops.merge_s" -> mergeS, "ops.warp_s" -> warpS,
      "ops.pack_s" -> packS, "ops.tile_merge_s" -> tileMergeS,
      "ops.tile_warp_s" -> tileWarpS, "ops.unpack_s" -> unpackS,
      "ops.pixel_shuffle_records" -> med("pixel")(_.shuffleWriteRecords.toDouble),
      "ops.pixel_shuffle_bytes" -> med("pixel")(_.shuffleWriteBytes.toDouble),
      "ops.tile_shuffle_records" -> med("tile")(_.shuffleWriteRecords.toDouble),
      "ops.tile_shuffle_bytes" -> med("tile")(_.shuffleWriteBytes.toDouble),
      "sources.write_s" -> Stats.median(writes.map(_.seconds)),
      "sources.commit_ms" -> Stats.median(writes.map(c =>
        (c.endMs - h.listener.get(c.group).lastJobEndMs).toDouble)),
      "sources.write_bytes" -> files.map { case (f, _) => fs.getFileStatus(f).getLen }.sum.toDouble,
      "sources.write_files" -> files.size.toDouble,
      "sources.read_plan_ms" -> Stats.median(plans.map(_._2._1)),
      "sources.read_exec_ms" -> Stats.median(plans.map { case (c, (planMs, _)) => c.millis - planMs }),
      "sources.read_bytes_per_read" -> reads.map(c => h.listener.get(c.group).inputBytes.toDouble).sum / reads.size,
      "sources.decoded_px_per_useful_px" -> decoded.toDouble / useful)
  }
}
