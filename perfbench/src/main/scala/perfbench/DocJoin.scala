package perfbench

import graft.core.Synth
import graft.docs.DocOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The flagship doc -> tile spatial join, once per cell family:
  * DocOps.interleave, the family's cell cover, the broadcast join to
  * tile-centre cells, then per-tile counts. Compute-bound in the kernels
  * and codegen expressions, with one small final shuffle.
  *
  * A doc's geometry depends only on doc_id mod 180, so the expected
  * per-tile counts of any id range follow from per-residue goldens that
  * the DuckDB text of DocOps.spatialTileAssignments*Sql produced. */
final class DocJoin(nDocs: Long, warmDocs: Long) extends Workload {
  val name = "doc_join"
  val minPasses = 3
  val maxPasses = 50

  import DocJoin.Family
  val families = Seq(Family("quad", 12), Family("s2", 10), Family("hex", 6))

  private var docsPath = ""
  private var expected: Map[String, Map[Long, Long]] = Map.empty

  /** Ids start at an offset derived from the seed. */
  private def idBase(seed: Long): Long = (seed % 1000000L + 1000000L) % 1000000L * 1000003L

  /** Flat docs (doc_id, text, lang) with the flagship's text shape. */
  private def docs(spark: SparkSession, from: Long, n: Long, parts: Int): DataFrame =
    spark.range(from, from + n, 1L, parts).select(col("id").as("doc_id"),
      concat(md5(col("id").cast("string").cast("binary")),
        lit(" the quick brown fox jumps over the lazy dog "),
        md5((col("id") + 1).cast("string").cast("binary"))).as("text"),
      lit("en").as("lang"))

  private def assignments(f: Family, spans: DataFrame): DataFrame = f.name match {
    case "quad" => DocOps.spatialTileAssignments(spans, Synth.modisGrid, f.level)
    case "s2" => DocOps.spatialTileAssignmentsS2(spans, Synth.modisGrid, f.level)
    case "hex" => DocOps.spatialTileAssignmentsHex(spans, Synth.modisGrid, f.level)
  }

  private def cover(f: Family, spans: DataFrame): DataFrame = f.name match {
    case "quad" => DocOps.geomCellCover(spans, Synth.modisGrid, f.level)
    case "s2" => DocOps.geomCellCoverS2Rect(spans, Synth.modisGrid, f.level)
    case "hex" => DocOps.geomCellCoverHex(spans, Synth.modisGrid, f.level)
  }

  private def perTile(f: Family, docsDf: DataFrame): Map[Long, Long] =
    assignments(f, DocOps.interleave(docsDf))
      .groupBy("tile_id").agg(count(lit(1)).as("n_docs"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Expected per-tile counts of ids [from, from + n) from the goldens. */
  private def expectedCounts(dirs: Dirs, from: Long, n: Long): Map[String, Map[Long, Long]] = {
    val g = Goldens.read(dirs, "doc_join.json")
    val perResidue = Array.tabulate(180) { r =>
      val full = n / 180
      val startR = from % 180
      val extra = if (((r - startR) % 180 + 180) % 180 < n % 180) 1L else 0L
      full + extra
    }
    families.map { f =>
      val tiles = g.get("families").get(f.name).get("tiles")
      val m = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      (0 until 180).foreach { r =>
        tiles.get(r).elements().forEachRemaining(t => m(t.asLong()) += perResidue(r))
      }
      f.name -> m.filter(_._2 > 0).toMap
    }.toMap
  }

  def setup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    val base = idBase(seed)
    docsPath = s"${dirs.work}/docs.parquet"
    docs(spark, base, nDocs, spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(docsPath)
    expected = expectedCounts(dirs, base, nDocs)
  }

  /** Runs the timed pipeline, read from parquet like the timed calls, so
    * the first timed pass reuses its generated code. */
  def warmup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    val path = s"${dirs.work}/warm_docs.parquet"
    docs(spark, idBase(seed + 7919L), warmDocs, spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
    families.foreach(f => perTile(f, spark.read.parquet(path)))
  }

  def pass(h: Harness): Unit = families.foreach { f =>
    h.call(s"doc_join.${f.name}", f.name) {
      perTile(f, h.spark.read.parquet(docsPath))
    } { got =>
      val want = expected(f.name)
      if (got == want) None
      else Some(s"per-tile counts differ from the goldens: got ${got.values.sum} " +
        s"assignments over ${got.size} tiles, want ${want.values.sum} over ${want.size}")
    }
  }

  def figures(h: Harness): Seq[Figure] = {
    def rate(name: String, kind: String) = {
      val calls = h.timedCalls(kind)
      Figure(name, nDocs / Stats.median(calls.map(_.seconds)), "docs/s", calls.size)
    }
    Seq(rate("docs_per_s", "quad"), rate("s2_docs_per_s", "s2"), rate("hex_docs_per_s", "hex"))
  }

  /** Prefix-action spans (cover alone, then cover + join) and the exact
    * fan-out counts of each family. */
  def layerProbes(h: Harness): Map[String, Double] = families.flatMap { f =>
    def timed[A](label: String)(a: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = h.probe(s"docs.${label}_${f.name}")(a)
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val spans = DocOps.interleave(h.spark.read.parquet(docsPath))
    val (cells, coverS) = timed("cover")(cover(f, spans).count())
    val (asg, joinS) = timed("join")(assignments(f, spans).count())
    Seq(s"docs.cover_${f.name}_s" -> coverS, s"docs.join_${f.name}_s" -> joinS,
      s"docs.cells_per_doc_${f.name}" -> cells.toDouble / nDocs,
      s"docs.assignments_per_doc_${f.name}" -> asg.toDouble / nDocs)
  }.toMap
}

object DocJoin {
  /** A cell family and the level the flagship uses it at. */
  final case class Family(name: String, level: Int)
}
