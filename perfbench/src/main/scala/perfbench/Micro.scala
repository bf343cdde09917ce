package perfbench

import graft.core.{Cells, Crs, Hex}
import graft.functions.{DotProduct, LshBuckets, S2RectCover}
import graft.ops.KnnOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kernel and expression microbenchmarks on seeded inputs. Each kernel runs
  * over a fixed array of inputs; the reported figure is the median of
  * several timed sweeps after untimed ones. */
object Micro {
  private val Sweeps = 5
  private val WarmSweeps = 2

  /** Median nanoseconds per element of `f` over `n` inputs. */
  private def nsPerOp(n: Int)(f: Int => Long): Double = {
    var sink = 0L
    def sweep(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { sink ^= f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    (1 to WarmSweeps).foreach(_ => sweep())
    val r = Stats.median((1 to Sweeps).map(_ => sweep()))
    if (sink == 42L) System.err.print("")
    r
  }

  /** Kernel timings; `seed` fixes every input. */
  def kernels(seed: Long, smoke: Boolean): Map[String, Double] = {
    val n = if (smoke) 20000 else 200000
    val rnd = new scala.util.Random(seed)
    // lon/lat inside the MODIS tile footprint, where the flagship works
    val lon = Array.fill(n)(-95.0 + rnd.nextDouble() * 10.0)
    val lat = Array.fill(n)(44.0 + rnd.nextDouble() * 2.0)
    val proj = Crs.MODIS_SINU.proj
    val xy = lon.indices.map(i => proj.forward(lon(i), lat(i))).toArray
    val ext = Array.fill(n)(0.05 + rnd.nextDouble() * 0.25)

    val cellid = nsPerOp(n)(i => Cells.cellId(lon(i), lat(i), 12))
    val inverse = nsPerOp(n)(i => java.lang.Double.doubleToRawLongBits(proj.inverse(xy(i)._1, xy(i)._2)._1))
    val s2 = nsPerOp(n / 4)(i =>
      S2RectCover.cells(lon(i), lat(i), lon(i) + ext(i), lat(i) + ext(i), 10, 9).numElements().toLong)
    val hex = nsPerOp(n)(i => Hex.cellId(lon(i), lat(i), 6))
    val pts = Array.tabulate(10000)(i => (i.toLong, lon(i), lat(i)))
    val tree = KnnOps.KdTree.build(pts)
    val knn = nsPerOp(n / 4)(i => tree.query(lon(n - 1 - i), lat(n - 1 - i), 5).length.toLong)
    Map(
      "core.cellid_ns" -> cellid,
      "core.proj_inverse_ns" -> inverse,
      "core.s2_cover_ns" -> s2,
      "core.hex_cellid_ns" -> hex,
      "core.kdtree_query_ns" -> knn)
  }

  /** Rows per second of one codegen expression over a cached seeded input:
    * the input is built and cached first, so the sweep times the
    * expression and the scan of cached rows. */
  private def rowsPerSec(h: Harness, name: String, input: DataFrame, expr: Column): Double = {
    val cached = input.persist()
    try {
      val n = h.probe(s"$name.cache", release = false)(cached.count()).toDouble
      def sweep(): Double = {
        val t0 = System.nanoTime()
        h.probe(name, release = false)(cached.agg(sum(expr)).collect())
        (System.nanoTime() - t0) / 1e9
      }
      sweep()
      n / Stats.median((1 to 3).map(_ => sweep()))
    } finally cached.unpersist(blocking = true)
  }

  def expressions(h: Harness, seed: Long, smoke: Boolean): Map[String, Double] = {
    val spark = h.spark
    val rows = if (smoke) 20000L else 200000L
    val dim = 32
    def u(salt: Int): Column = // seeded uniform in [0, 1)
      (pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000003L)).cast("double") / 1000003.0)
    val base = spark.range(0L, rows, 1L, h.cores)
    val boxes = base.select(
      (lit(-95.0) + u(1) * 10.0).as("lon0"), (lit(44.0) + u(2) * 2.0).as("lat0"),
      (lit(0.05) + u(3) * 0.25).as("ext"))
      .select(col("lon0"), col("lat0"), (col("lon0") + col("ext")).as("lon1"),
        (col("lat0") + col("ext")).as("lat1"))
    def vec(salt: Int): Column =
      transform(sequence(lit(0), lit(dim - 1)), d =>
        (pmod(xxhash64(col("id"), lit(seed), lit(salt), d), lit(2001L)) - 1000L).cast("float") / 1000.0f)
    val vecs = base.select(vec(4).as("a"), vec(5).as("b"))
    Map(
      "functions.s2_rect_cover_rows_per_s" -> rowsPerSec(h, "functions.s2_rect_cover", boxes,
        size(S2RectCover.column(col("lon0"), col("lat0"), col("lon1"), col("lat1"), 10, 9))),
      "functions.lsh_buckets_rows_per_s" -> rowsPerSec(h, "functions.lsh_buckets", vecs,
        aggregate(LshBuckets.column(col("a"), 8, 4, dim), lit(0L), (acc, b) => acc + b)),
      "functions.dot_product_rows_per_s" -> rowsPerSec(h, "functions.dot_product", vecs,
        DotProduct.column(col("a"), col("b"))))
  }
}
