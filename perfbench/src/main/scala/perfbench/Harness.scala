package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One timed call: a single layer entry point run in its own job group. */
final case class CallRecord(
    name: String, kind: String, group: String, pass: Int,
    startNs: Long, endNs: Long, endMs: Long,
    ok: Boolean, error: String,
    cacheEntriesLeft: Int, rddsLeft: Int, liveOldGenBytes: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def millis: Double = (endNs - startNs) / 1e6
}

/** A traced interval; `parent` is the enclosing span's id, or -1. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

/** Runs timed calls and records what they did. Every call gets its own job
  * group, so the listener attributes Spark events to it. After each call
  * the heap's live set (leftover caches included) and the cache leftovers
  * are recorded, and only then are the leftovers released, so the next
  * call runs cold no matter what this one persisted; the full collection
  * also starts every call on an empty young generation. */
final class Harness(val spark: SparkSession, val trace: Boolean) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)

  val calls = new ArrayBuffer[CallRecord]
  val spans = new ArrayBuffer[Span]
  private val failures = new ArrayBuffer[String]
  private var openSpans: List[Int] = Nil
  private var seq = 0
  var pass = 0

  private def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
    failures += msg
  }
  def failed: Seq[String] = failures.toSeq

  /** Records a span around `f` when tracing; runs `f` bare otherwise. */
  def span[A](name: String)(f: => A): A =
    if (!trace) f
    else {
      val id = spans.size
      spans += Span(id, name, openSpans.headOption.getOrElse(-1), System.nanoTime(), 0L)
      openSpans = id :: openSpans
      try f
      finally {
        openSpans = openSpans.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Runs `f` as one timed call. The result is checked after the clock
    * stops; `check` returns an error message for a wrong output. */
  def call[A](name: String, kind: String)(f: => A)(check: A => Option[String]): Unit = {
    seq += 1
    val group = f"call-$seq%05d"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try Right(span(s"$kind:$name")(f)) catch { case t: Throwable => Left(t) }
    val t1 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val live = JvmProbe.liveOldGenBytes()
    val entries = CacheProbe.entries(spark)
    val rdds = CacheProbe.rdds(spark)
    CacheProbe.release(spark)
    val err = res match {
      case Left(t) => Some(s"$name threw ${t.getClass.getSimpleName}: ${t.getMessage}")
      case Right(a) => check(a).map(m => s"$name: $m")
    }
    err.foreach(fail)
    calls += CallRecord(name, kind, group, pass, t0, t1, endMs, err.isEmpty,
      err.getOrElse(""), entries, rdds, live)
  }

  /** An untimed probe action outside any call (prefix actions, plan
    * inspection); its Spark events land in a group of its own. */
  def probe[A](name: String, release: Boolean = true)(f: => A): A = {
    seq += 1
    val sc = spark.sparkContext
    sc.setJobGroup(f"probe-$seq%05d", name, interruptOnCancel = false)
    try span(name)(f)
    finally {
      sc.clearJobGroup()
      if (release) CacheProbe.release(spark)
    }
  }

  def timedCalls(kind: String): Seq[CallRecord] = calls.filter(_.kind == kind).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank percentile: the smallest sample with at least a share
    * `q` of the samples at or below it. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(q * s.size - 1e-9).toInt)
    s(math.min(s.size, rank) - 1)
  }
}
