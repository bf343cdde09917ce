package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The catalog: a fixed selection of SparkEntry queries, each once, in
  * name order, over the fixed sf0.01 tables. The order is fixed so that what one query warms
  * for the next (generated code, JIT) is the same in every run; cached
  * data is released after every query. Each query's time is its first
  * execution in the process and covers one action that hashes every output column. The
  * queries are short, so planning, codegen, job scheduling and cache
  * lifetime dominate. The output is checked against row counts of the
  * DuckDB oracle and checksums of an oracle-verified output. */
final class Catalog(selection: Catalog.Selection) extends Workload {
  val name = "catalog"
  val minPasses = 1
  val maxPasses = 1

  private var dataDir = ""
  private var order: Seq[String] = Nil
  private var goldens: Map[String, (Long, Checksum.Sum)] = Map.empty
  /** Traced split of each query call: (build, plan, exec) milliseconds. */
  private val phases = mutable.Map.empty[String, (Double, Double, Double)]

  /** The query's family: the module its operators come from. */
  def family(q: String): String = q match {
    case "q_lineitem_agg" | "q_join_broadcast" => "relational"
    case n if n.startsWith("q_knn") => "knn"
    case n if n.startsWith("q_dedup") || n == "q_fingerprint" => "dedup"
    case n if n.startsWith("q_ann") || n.startsWith("q_emb") => "ann"
    case "q_text_quality" | "q_lang_id" | "q_token_count" | "q_decontaminate" |
         "q_sample_stratified" | "q_pack_sequences" | "q_repetition_metrics" |
         "q_domain_cap" => "text"
    case n if n.startsWith("q_doc") || n.startsWith("q_cell_index") => "docs"
    case "q_media_features" => "media"
    case _ => "raster"
  }
  val families = Seq("raster", "docs", "dedup", "ann", "text", "knn", "relational", "media")

  def setup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    dataDir = dirs.data
    val g = Goldens.read(dirs, "catalog.json").get("queries")
    goldens = Goldens.fields(g).map { case (q, n) =>
      q -> (n.get("oracle_rows").asLong(), Checksum.Sum(n.get("rows").asLong(),
        n.get("low").asLong(), n.get("xor").asLong()))
    }.toMap
    val names = SparkEntry.queries.keys.toSeq.sorted
    val missing = names.filterNot(goldens.contains)
    require(missing.isEmpty, s"no goldens for ${missing.mkString(", ")}")
    order = selection match {
      case Catalog.Core => names.filter(Catalog.CoreQueries.contains)
      case Catalog.OnePerFamily => names.filter(q => q == names.find(family(_) == family(q)).get)
    }
    // the seed's inputs: a seeded sample of the relational tables, for warmup
    val warm = s"${dirs.work}/warm"
    Seq("lineitem", "orders", "customer").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").sample(0.2, seed)
        .write.mode("overwrite").parquet(s"$warm/$t.parquet")
    }
  }

  /** Warms the engine, not the queries: a scan, join, aggregate and window
    * over the sampled tables, so every timed query still runs for the
    * first time. */
  def warmup(spark: SparkSession, dirs: Dirs, seed: Long): Unit = {
    val warm = s"${dirs.work}/warm"
    val li = spark.read.parquet(s"$warm/lineitem.parquet")
    val o = spark.read.parquet(s"$warm/orders.parquet")
    Checksum.collect(li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_custkey").agg(sum("l_extendedprice").as("rev"), count(lit(1)).as("n"))
      .withColumn("rk", rank().over(org.apache.spark.sql.expressions.Window.orderBy(col("rev").desc))))
  }

  def pass(h: Harness): Unit = order.foreach { q =>
    val fn = SparkEntry.queries(q)
    h.call(q, family(q)) {
      val t0 = System.nanoTime()
      val agg = Checksum.of(fn(h.spark, dataDir))
      val t1 = System.nanoTime()
      if (h.trace) agg.queryExecution.executedPlan
      val t2 = System.nanoTime()
      val r = agg.collect()(0)
      if (h.trace) phases(q) = ((t1 - t0) / 1e6, (t2 - t1) / 1e6, (System.nanoTime() - t2) / 1e6)
      Checksum.Sum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2))
    } { got =>
      val (oracleRows, want) = goldens(q)
      if (got.rows != oracleRows) Some(s"${got.rows} rows, the oracle has $oracleRows")
      else if (got != want) Some(s"checksum $got differs from the verified output's $want")
      else None
    }
  }

  def figures(h: Harness): Seq[Figure] = {
    // p89 is the highest percentile of all 99 queries with 10 beyond it;
    // the bench cross-section has fewer, see the sample count
    val ms = h.calls.map(_.millis).toSeq
    Seq(Figure("query_p50_ms", Stats.quantile(ms, 0.5), "ms", ms.size),
      Figure("query_p89_ms", Stats.quantile(ms, 0.89), "ms", ms.size))
  }

  def layerProbes(h: Harness): Map[String, Double] = {
    val byFamily = families.map { f =>
      s"catalog.${f}_s" -> h.timedCalls(f).map(_.seconds).sum
    }
    val clusters = h.calls.find(_.name == "q_dedup_clusters")
      .map(c => h.listener.get(c.group).jobs.toDouble).getOrElse(0.0)
    (byFamily ++ Seq(
      "catalyst.plan_ms_total" -> phases.values.map(_._2).sum,
      "catalog.build_ms_total" -> phases.values.map(_._1).sum,
      "catalog.exec_ms_total" -> phases.values.map(_._3).sum,
      "dedup.clusters_jobs" -> clusters)).toMap
  }
}

object Catalog {
  sealed trait Selection
  /** A fixed cross-section that fits a bench run: every family, the
    * queries that leave persisted data behind (q_interpolate_na, q_ann_lsh,
    * q_pack_sequences, q_dedup_clusters), the iterative dedup clustering,
    * the merge and resample operators, and a relational baseline. */
  case object Core extends Selection
  /** The first query of each family (smoke size). */
  case object OnePerFamily extends Selection

  val CoreQueries: Set[String] = Set(
    "q_reproject_nearest", "q_interpolate_na", "q_merge_first", "q_resample_mode",
    "q_doc_tile_spatial", "q_dedup_clusters", "q_ann_topk", "q_ann_lsh", "q_pack_sequences",
    "q_knn_kdtree", "q_lineitem_agg", "q_media_features")
}
