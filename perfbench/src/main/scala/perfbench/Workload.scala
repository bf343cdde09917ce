package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import scala.jdk.CollectionConverters._

/** Where a run keeps its files; everything lives inside the checkout. */
final case class Dirs(work: String, goldens: String, data: String)

/** A named end-to-end figure of one workload, printed with its unit and
  * the number of samples it was taken from. */
final case class Figure(name: String, value: Double, unit: String, samples: Int)

/** One benchmark workload. The harness calls [[setup]] (inputs) and
  * [[warmup]] once to time set-up, then repeats [[pass]] for the measured
  * region. */
trait Workload {
  def name: String
  def minPasses: Int
  def maxPasses: Int

  /** Generates this seed's inputs and writes them as parquet tables. */
  def setup(spark: SparkSession, dirs: Dirs, seed: Long): Unit

  /** Untimed warmup on another seed and a smaller size; no checks. */
  def warmup(spark: SparkSession, dirs: Dirs, seed: Long): Unit

  /** One pass of timed calls. */
  def pass(h: Harness): Unit

  /** The workload's own end-to-end figures, from its calls. */
  def figures(h: Harness): Seq[Figure]

  /** Per-layer probes of a traced run, after the timed passes. */
  def layerProbes(h: Harness): Map[String, Double]
}

/** Order-independent checksum of every column of a frame: the row count,
  * the sum of the low 32 bits of each row's xxhash64 and the xor of the
  * full hashes. Forcing every column into the hash keeps column pruning
  * from skipping work. */
object Checksum {
  final case class Sum(rows: Long, low: Long, xor: Long)

  def of(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType => to_json(c) // maps are not hashable
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"), sum(h.bitwiseAND(0xFFFFFFFFL)).as("low"), bit_xor(h).as("xor"))
  }

  def collect(df: DataFrame): Sum = {
    val r = of(df).collect()(0)
    Sum(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}

object Goldens {
  def read(dirs: Dirs, file: String): JsonNode =
    new ObjectMapper().readTree(new java.io.File(dirs.goldens, file))

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def elements(n: JsonNode): Seq[JsonNode] = n.elements().asScala.toSeq
}
