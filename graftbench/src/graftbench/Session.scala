package graftbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: the engine's own factory
  * (`Tables.session`), on `local[nproc]` with `nproc` shuffle partitions,
  * as the tests call it. */
object Session {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  def build(): SparkSession = {
    val spark = graft.core.Tables.session(s"local[$nproc]", shufflePartitions = nproc)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stops the session and its context so the next `build` starts anew. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
