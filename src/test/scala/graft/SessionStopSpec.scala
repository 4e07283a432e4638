package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables

/** Engine state keyed by session must not outlive the session. This spec
  * stops its SparkContext, so it runs in a JVM of its own (build.sbt). */
class SessionStopSpec extends AnyFunSuite {
  val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("resolved tables of a stopped session are dropped") {
    val first = Tables.session("local[2]", shufflePartitions = 2)
    Tables.all.foreach(Tables.t(first, sf, _))
    assert(Tables.resolvedSessions.contains(first))
    stop(first)
    val second = Tables.session("local[2]", shufflePartitions = 2)
    try {
      assert(second ne first)
      assert(Tables.t(second, sf, "region").count() == 5)
      assert(Tables.resolvedSessions == Set(second),
        "the map still holds the stopped session and its DataFrames")
    } finally stop(second)
  }
}
