package perfbench

import graft.SparkEntry
import graft.core.Synth
import graft.docs.DocOps
import org.apache.spark.sql.SparkSession

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** Benchmark harness entry point (started by perfbench/run.py).
  *
  *   run --workload W --seed N --seconds S --trace 0|1 --size bench|smoke
  *       --work DIR --goldens DIR --data DIR --spec BENCHMARK.json --out FILE
  *   oracle-sql OUT.json               the DuckDB texts behind the doc goldens
  *   catalog-sums VERIFY_DIR OUT.json  checksums of a verified query dump
  *
  * A run sets up once, cold, in a fresh JVM (session, input tables,
  * warmup) and reports that time as setup_s; it then repeats passes of
  * timed calls for about S seconds (at least the workload's minimum number
  * of passes) and writes every figure, counter and span to OUT. */
object Main {

  /** The per-layer metrics BENCHMARK.json lists, with their units. A
    * workload that does not use a layer reports 0 for it. */
  private def layerMetrics(spec: String): Seq[(String, String)] =
    Goldens.elements(new ObjectMapper().readTree(new java.io.File(spec)).get("per_layer"))
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the status store keeps finished jobs on the heap; a small, fixed
      // retention keeps peak_heap_mb independent of how many calls ran
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.extensions", "graft.sources.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Sizes: smoke (seconds, for the smoke test) and bench (what a benchmark
    * run uses). */
  private def workload(name: String, size: String): Workload = (name, size) match {
    case ("doc_join", "smoke") => new DocJoin(nDocs = 3600, warmDocs = 900)
    case ("doc_join", "bench") => new DocJoin(nDocs = 150000, warmDocs = 20000)
    case ("raster_store", "smoke") =>
      new RasterStore(side = 80, tileSize = 20, storeTile = 25, readsPerPass = 4, maxWindow = 30, warmSide = 40)
    case ("raster_store", "bench") =>
      new RasterStore(side = 240, tileSize = 60, storeTile = 100, readsPerPass = 3, maxWindow = 100,
        warmSide = 160)
    case ("catalog", "smoke") => new Catalog(Catalog.OnePerFamily)
    case ("catalog", "bench") => new Catalog(Catalog.Core)
    case other => throw new IllegalArgumentException(s"unknown workload/size $other")
  }

  /** Writes Scala maps, sequences and numbers as one JSON document. */
  private def writeJson(out: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(out), value)

  private def args2map(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments near ${other.mkString(" ")}")
    }.toMap

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(args2map(args.toSeq.tail))
    case Some("oracle-sql") => oracleSql(args(1))
    case Some("catalog-sums") => catalogSums(args(1), args(2))
    case _ =>
      System.err.println("usage: Main run|oracle-sql|catalog-sums ...")
      sys.exit(2)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on stderr, stamped with seconds since the JVM started. */
  private def progress(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.1fs $msg")

  def run(a: Map[String, String]): Unit = {
    val size = a.getOrElse("size", "bench")
    val smoke = size == "smoke"
    val wl = workload(a("workload"), size)
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val layers = layerMetrics(a("spec"))
    val dirs = Dirs(a("work"), a("goldens"), a("data"))
    Files.createDirectories(Paths.get(dirs.work))

    // set-up, once and cold: session, input tables, untimed warmup
    val s0 = System.nanoTime()
    val spark = session(dirs.work)
    val s1 = System.nanoTime()
    wl.setup(spark, dirs, seed)
    val s2 = System.nanoTime()
    wl.warmup(spark, dirs, seed)
    CacheProbe.release(spark)
    val s3 = System.nanoTime()
    val setupS = (s3 - s0) / 1e9
    val setupPhases = Map("session_s" -> (s1 - s0) / 1e9, "inputs_s" -> (s2 - s1) / 1e9,
      "warmup_s" -> (s3 - s2) / 1e9)
    progress(f"set-up: $setupS%.2fs")

    val h = new Harness(spark, trace)
    val loadStart = JvmProbe.loadavg
    val passS = ArrayBuffer.empty[Double] // wall time of each pass, checks included
    val t0 = System.nanoTime()
    // a pass starts only if a typical pass still fits in the time left
    def fits = (System.nanoTime() - t0) / 1e9 + Stats.median(passS.toSeq) <= seconds
    while (passS.size < wl.minPasses || (passS.size < wl.maxPasses && fits)) {
      h.pass = passS.size
      val p0 = System.nanoTime()
      h.span(s"pass ${h.pass}")(wl.pass(h))
      passS += (System.nanoTime() - p0) / 1e9
      progress(f"pass ${h.pass}: ${passS.last}%.2fs")
    }
    h.listener.drain(spark.sparkContext)
    val jitMs = JvmProbe.jitMs.toDouble
    val gcMs = JvmProbe.gcMs.toDouble
    val loadEnd = JvmProbe.loadavg

    val calls = h.calls.toSeq
    val failedCalls = calls.count(!_.ok)
    // a pass's run time is the wall time of its calls, without the checks
    // and heap readings between them
    val callS = calls.groupBy(_.pass).values.map(_.map(_.seconds).sum).toSeq
    val figures = Seq(
      Figure("setup_s", setupS, "s", 1),
      Figure("run_s", Stats.median(callS), "s", callS.size),
      Figure("failed_frac", failedCalls.toDouble / calls.size, "ratio", calls.size),
      Figure("peak_heap_mb", calls.map(_.liveOldGenBytes).max / 1048576.0, "MB", calls.size)) ++
      wl.figures(h)

    val perLayer: Map[String, Double] = if (!trace) Map.empty else {
      val stats = calls.map(c => h.listener.get(c.group))
      val passes = passS.size.toDouble
      def perPass(f: GroupStats => Double) = stats.map(f).sum / passes
      val wallMs = calls.map(_.millis).sum
      val engine = Map(
        "spark.jobs" -> perPass(_.jobs.toDouble), "spark.stages" -> perPass(_.stages.toDouble),
        "spark.tasks" -> perPass(_.tasks.toDouble),
        "spark.executor_run_ms" -> perPass(_.executorRunMs.toDouble),
        "spark.executor_cpu_ms" -> perPass(_.executorCpuNs / 1e6), "spark.gc_ms" -> perPass(_.gcMs.toDouble),
        "spark.core_util" -> stats.map(_.executorRunMs).sum / (wallMs * h.cores),
        "spark.shuffle_write_bytes" -> perPass(_.shuffleWriteBytes.toDouble),
        "spark.shuffle_write_records" -> perPass(_.shuffleWriteRecords.toDouble),
        "spark.shuffle_read_bytes" -> perPass(_.shuffleReadBytes.toDouble),
        "spark.spill_bytes" -> perPass(_.spillBytes.toDouble),
        "spark.peak_exec_mem_mb" -> stats.map(_.peakExecMem).max / 1048576.0,
        "spark.input_bytes" -> perPass(_.inputBytes.toDouble),
        "cache.entries_left" -> calls.map(_.cacheEntriesLeft).sum / passes,
        "cache.rdds_left" -> calls.map(_.rddsLeft).sum / passes,
        "jvm.jit_ms" -> jitMs, "jvm.gc_ms" -> gcMs,
        "host.loadavg_start" -> loadStart, "host.loadavg_end" -> loadEnd)
      val probes = wl.layerProbes(h) ++ Micro.kernels(seed, smoke) ++ Micro.expressions(h, seed, smoke)
      val all = engine ++ probes
      val unknown = all.keySet -- layers.map(_._1)
      require(unknown.isEmpty, s"layer metrics missing from BENCHMARK.json: ${unknown.mkString(", ")}")
      layers.map { case (n, _) => n -> all.getOrElse(n, 0.0) }.toMap
    }
    h.listener.drain(spark.sparkContext)

    figures.foreach(f =>
      println(f"[perfbench] ${wl.name} ${f.name} = ${f.value}%.6g ${f.unit} (n=${f.samples})"))
    val units = layers.toMap
    val result = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "size" -> size,
      "cores" -> h.cores, "passes" -> passS.size,
      "correct" -> h.failed.isEmpty, "attempted" -> calls.size, "failed" -> failedCalls,
      "failures" -> h.failed,
      "figures" -> figures.map(f =>
        f.name -> Map("value" -> f.value, "unit" -> f.unit, "samples" -> f.samples)).toMap,
      "per_layer" -> perLayer.map { case (n, v) => n -> Map("value" -> v, "unit" -> units(n)) },
      "setup_s" -> setupS, "setup_phases" -> setupPhases, "pass_s" -> passS.toSeq,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "calls" -> calls.map { c =>
        val s = h.listener.get(c.group)
        Map("name" -> c.name, "kind" -> c.kind, "pass" -> c.pass, "ms" -> c.millis, "ok" -> c.ok,
          "error" -> c.error, "cache_entries_left" -> c.cacheEntriesLeft, "rdds_left" -> c.rddsLeft,
          "live_old_gen_mb" -> c.liveOldGenBytes / 1048576.0,
          "jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
          "executor_run_ms" -> s.executorRunMs, "executor_cpu_ms" -> s.executorCpuNs / 1e6,
          "gc_ms" -> s.gcMs, "shuffle_write_bytes" -> s.shuffleWriteBytes,
          "shuffle_write_records" -> s.shuffleWriteRecords, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "spill_bytes" -> s.spillBytes, "peak_exec_mem" -> s.peakExecMem, "input_bytes" -> s.inputBytes)
      },
      "spans" -> h.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)))
    writeJson(a("out"), result)
    progress("result written")
    spark.stop()
    progress("session stopped")
  }

  /** The DuckDB texts of the three spatial joins over a table `docs`. */
  def oracleSql(out: String): Unit = {
    val g = Synth.modisGrid
    val sql = Map(
      "quad" -> DocOps.spatialTileAssignmentsSql("docs", g, 12),
      "s2" -> DocOps.spatialTileAssignmentsS2Sql("docs", g, 10),
      "hex" -> DocOps.spatialTileAssignmentsHexSql("docs", g, 6))
    writeJson(out, sql)
  }

  /** Checksums of a query dump (one parquet directory per query) that
    * passed the DuckDB oracle: the goldens the catalog workload checks. */
  def catalogSums(dumpDir: String, out: String): Unit = {
    val work = Files.createTempDirectory(Paths.get(out).toAbsolutePath.getParent, "sums").toString
    val spark = session(work)
    val sums = SparkEntry.queries.keys.toSeq.sorted.map { q =>
      val s = Checksum.collect(spark.read.parquet(s"$dumpDir/$q"))
      q -> Map("rows" -> s.rows, "low" -> s.low, "xor" -> s.xor)
    }.toMap
    writeJson(out, sums)
    spark.stop()
  }
}
