package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** A query executed again reuses the classes its first execution generated:
  * Spark's class cache (`CodeGenerator.cache`) must hold the working set of
  * a query and of a cycle of queries (`Tables.CodegenCacheEntries`), and the
  * generated source must not change between executions.
  *
  * Spark sizes that cache once per JVM, from the session active when code
  * is first generated; a session-less `GenerateUnsafeProjection` call (as in
  * `CodegenSpec`) run first would pin Spark's default of 100 entries. So
  * this spec runs in a JVM of its own (build.sbt), where every session comes
  * from `Tables.session`, whatever order the suites run in. */
class CodegenReuseSpec extends AnyFunSuite {
  lazy val spark: SparkSession = core.Tables.session("local[2]", shufflePartitions = 2)
  val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** Janino compiles while `body` runs. */
  private def compilesDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Build the query anew and materialize every row, as the benchmark does. */
  private def execute(name: String): Unit =
    SparkEntry.queries(name)(spark, sf).write.format("noop").mode("overwrite").save()

  test("a second execution of q_groups_frame_sweep compiles no class") {
    assert(compilesDuring(execute("q_groups_frame_sweep")) > 0)
    assert(compilesDuring(execute("q_groups_frame_sweep")) == 0)
  }

  test("a second round over a cycle of more than 100 classes compiles none") {
    val cycle = Seq("q_bm25", "q_fn_dict_hier", "q_seq_packing", "q8_market_share",
      "q5_local_supplier", "q10_returned_items")
    val first = compilesDuring(cycle.foreach(execute))
    assert(first > 100, s"the cycle compiled only $first classes; it must outgrow Spark's default 100")
    assert(compilesDuring(cycle.foreach(execute)) == 0)
  }

  test("the next materialized-view batch reuses the previous batch's classes") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val mv = s"${core.Tables.scratchDir(spark)}/codegen_reuse_mv"
    def write(batchId: Long): Unit =
      streaming.Streams.mvWriteBatch(core.Tables.t(spark, sf, "events"),
        _.groupBy(col("event_type")).agg(count(lit(1)).as("n")), mv, batchId)
    assert(compilesDuring(write(0)) > 0)
    assert(compilesDuring(write(1)) == 0)
    assert(new java.io.File(mv).list().filter(_.startsWith("__batch_id=")).sorted.toSeq ==
      Seq("__batch_id=0", "__batch_id=1"))
  }
}
