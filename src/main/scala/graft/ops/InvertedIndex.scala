package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text-index analog (reference:
  * src/Storages/MergeTree/MergeTreeIndexGin.cpp "full_text" index and
  * MergeTreeIndexBloomFilterText.cpp — token-granule skip indexes that
  * accelerate hasToken()).
  *
  * Spark-native shape: a (token, doc_id) posting table, RANGE-PARTITIONED
  * and sorted by token, written with a parquet bloom filter on `token`.
  * A hasToken lookup then becomes an equality scan that prunes at THREE
  * levels — partition files (range bounds), row groups (min/max stats),
  * and pages (bloom) — followed by a semi join back to the docs. At
  * 100 TB the lookup touches one file's worth of postings instead of
  * scanning every document's text.
  */
object InvertedIndex {

  /** Lowercased alphanumeric tokenization — matches hasToken's
    * non-alphanumeric boundary semantics. */
  private def tokens(textCol: String) =
    array_distinct(split(lower(col(textCol)), "[^a-z0-9]+"))

  /** Build (overwrite) the posting table. */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String,
            buckets: Int = 8): Unit = {
    docs.select(col(idCol).as("doc_id"), explode(tokens(textCol)).as("token"))
      .filter(length(col("token")) > 0)
      .repartitionByRange(buckets, col("token"))
      .sortWithinPartitions(col("token"))
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#token", "true")
      .parquet(path)
  }

  /** Doc ids whose text contains `token` — pure index scan. */
  def lookup(spark: SparkSession, path: String, token: String): DataFrame =
    graft.core.Tables.parquet(spark, path)
      .filter(col("token") === lower(lit(token)))
      .select(col("doc_id"))

  /** hasToken(docs.text, token) via the index: semi join docs against the
    * posting scan (broadcast when the posting list is small). */
  def hasTokenViaIndex(docs: DataFrame, idCol: String,
                       spark: SparkSession, path: String, token: String): DataFrame = {
    val hits = lookup(spark, path, token).withColumnRenamed("doc_id", "__idx_doc_id")
    docs.join(broadcast(hits), docs(idCol) === col("__idx_doc_id"), "left_semi")
  }
}
