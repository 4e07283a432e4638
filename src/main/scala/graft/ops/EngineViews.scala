package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MergeTree engine-family semantics as view-time transformations
  * (SURVEY.md §2.1; reference registerStorageMergeTree.cpp:931-946 —
  * merge-time row semantics become FINAL-equivalent plan rewrites).
  *
  * The reference applies these lazily at background merge or under
  * SELECT ... FINAL; Spark-side they are just declarative transforms, so
  * Catalyst pushes filters below them where legal and the single shuffle
  * each needs is on the engine's key — the same key a cluster layout
  * would bucket by, making these shuffle-free on a bucketed table.
  */
object EngineViews {

  /** ReplacingMergeTree FINAL: keep the latest row per key by version
    * (reference ReplacingSortedAlgorithm). Deterministic given a total
    * (version ++ tiebreak) order. */
  def replacingFinal(df: DataFrame, keys: Seq[String], version: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(version.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** SummingMergeTree FINAL: sum measure columns per key, keep keys
    * (reference SummingSortedAlgorithm). */
  def summingFinal(df: DataFrame, keys: Seq[String], measures: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(measures.head)).as(measures.head),
        measures.tail.map(m => sum(col(m)).as(m)): _*)

  /** CollapsingMergeTree FINAL: rows carry sign ±1; a key survives iff
    * sum(sign) > 0, surviving state = latest +1 row (reference
    * CollapsingSortedAlgorithm). */
  def collapsingFinal(df: DataFrame, keys: Seq[String], sign: Column,
                      order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(_.desc): _*)
    val net = df.groupBy(keys.map(col): _*).agg(sum(sign).as("__net"))
      .filter(col("__net") > 0).drop("__net")
    val latestPlus = df.filter(sign === 1)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    latestPlus.join(net, keys, "left_semi")
  }

  /** VersionedCollapsingMergeTree FINAL: collapsing where "latest" is
    * decided by an explicit version column (reference
    * VersionedCollapsingSortedAlgorithm) — same plan as collapsing with
    * the version leading the order. */
  def versionedCollapsingFinal(df: DataFrame, keys: Seq[String], sign: Column,
                               version: Column): DataFrame =
    collapsingFinal(df, keys, sign, Seq(version))
}
