package graft

import graft.core.Synth
import graft.docs.DocOps
import graft.runtime.DocPipeline
import org.apache.spark.sql.DataFrame

/** Every whole-stage codegen stage of the flagship spatial joins and the
  * hex cell index must compile to methods HotSpot will JIT: at most 8,000
  * bytes of bytecode. An inlined Column tree that grows past that runs as
  * interpreted bytecode, which is how the unrolled LSH planes, the S2
  * Column cover, the span-lookup HOF and the staged hex cell id each cost
  * multiples of their kernel form. */
class CodegenSizeSpec extends SparkTestBase {

  val HugeMethodLimit = 8000

  private def spans = DocOps.interleave(DocPipeline.syntheticDocs(spark, 2000, 4))

  private def assertJittable(name: String, df: => DataFrame): Unit = {
    val bytes = maxGeneratedMethodBytes(df)
    assert(bytes <= HugeMethodLimit, s"$name: largest generated method is $bytes bytes")
  }

  test("spatial doc-tile joins: every stage is under the JIT method limit") {
    assertJittable("quadtree L12", DocOps.spatialTileAssignments(spans, Synth.modisGrid, 12))
    assertJittable("S2 L10", DocOps.spatialTileAssignmentsS2(spans, Synth.modisGrid, 10))
    assertJittable("hex res 6", DocOps.spatialTileAssignmentsHex(spans, Synth.modisGrid, 6))
  }

  test("hex cell index: every stage is under the JIT method limit") {
    assertJittable("q_cell_index_hex", Queries.qCellIndexHex(spark, sfDir = "")) // reads no tables
  }
}
