package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for ScalaTest suites. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  override def afterAll(): Unit = () // keep the shared session for other suites

  /** Runs `f` once with whole-stage codegen and once fully interpreted (no
    * whole-stage codegen, NO_CODEGEN expression factories), so a custom
    * expression's doGenCode and its nullSafeEval are both exercised. `f`
    * gets the mode's name for assertion messages. */
  def inBothCodegenModes(f: String => Unit): Unit = {
    f("codegen")
    val interpreted = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val saved = interpreted.map { case (k, _) => k -> spark.conf.getOption(k) }
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    try f("interpreted")
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Executes `df`, then compiles every whole-stage codegen stage of its
    * final plan (AQE query stages included) and returns the largest
    * generated method in bytecode bytes. HotSpot never JIT-compiles a
    * method over 8,000 bytes, so a stage above that runs interpreted. */
  def maxGeneratedMethodBytes(df: DataFrame): Int = {
    df.collect()
    val stages = SparkTestBase.plans.collect(df.queryExecution.executedPlan) {
      case s: WholeStageCodegenExec => s
    }
    assert(stages.nonEmpty, s"no whole-stage codegen stage in\n${df.queryExecution.executedPlan}")
    stages.map(s => CodeGenerator.compile(s.doCodeGen()._2)._2.maxMethodCodeSize).max
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.sources.GraftExtensions")
    .getOrCreate()

  private object plans extends AdaptiveSparkPlanHelper
}
