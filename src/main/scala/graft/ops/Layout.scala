package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators for cluster-scale joins (SURVEY.md §4.2 /
  * the 100 TB posture): bucketed co-located joins (the Spark analog of
  * the reference's pre-sorted MergeTree parts feeding merge joins without
  * re-sort) and salting for skewed keys (reference distributes skew via
  * sharded hash joins; AQE skew-split covers most cases, salting covers
  * pathological single-key skew).
  */
object Layout {

  /** Persist a DataFrame as a bucketed+sorted table: joins/aggregations on
    * the bucket keys then run WITHOUT an Exchange (asserted in PlanSpec). */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    keys: Seq[String]): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Persist parquet with per-column BLOOM FILTERS (reference:
    * MergeTreeIndexBloomFilter.cpp / bloom_filter skip indexes — the
    * point-lookup pruning a sort key can't give). parquet-mr stores the
    * bloom per row group; an equality probe on `bloomCols` then skips
    * row groups whose filter rejects the value — same effect as the
    * reference's granule-skipping index, no Spark-side code needed at
    * read time (parquet row-group filtering applies it under pushdown).
    * LayoutSpec asserts the filters are really in the file footers. */
  def writeWithBloomFilters(df: DataFrame, path: String,
                            bloomCols: Seq[String],
                            expectedNdv: Long = 100000L): Unit = {
    // parquet-mr only materializes a bloom for pages that fall back from
    // dictionary encoding (a fully dict-encoded chunk already filters
    // exactly). The bloom columns are the high-NDV point-lookup keys —
    // exactly the ones where dictionary encoding breaks down at scale —
    // so disable dictionary for them and let the bloom do its job.
    val w = bloomCols.foldLeft(df.write.mode("overwrite")) { (wr, c) =>
      wr.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedNdv.toString)
        .option(s"parquet.enable.dictionary#$c", "false")
    }
    w.parquet(path)
  }

  /** Compact a parquet directory's small files (reference OPTIMIZE TABLE
    * ... FINAL — MergeTree background merges; the lakehouse small-files
    * problem at 100 TB). Rewrites to ~`targetRows`-row files, range-
    * partitioned on `sortKeys` so every output file covers a contiguous
    * key range (data-skipping min/max stays tight), then atomically
    * swaps the directory — same copy-on-write discipline as Mutations. */
  def compact(spark: SparkSession, dir: String, sortKeys: Seq[String],
              targetRows: Long): Unit = {
    val df = graft.core.Tables.parquet(spark, dir)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    val tmp = dir + "__compact_tmp"
    df.repartitionByRange(files, sortKeys.map(col): _*)
      .sortWithinPartitions(sortKeys.map(col): _*)
      .write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(dir)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Salted equi-join for pathological key skew: the skewed (left) side
    * gets a random salt in [0, salts); the right side is replicated
    * `salts` times; the join key becomes (key, salt). Row multiplicity is
    * preserved exactly — each left row joins one replica. */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
                 salts: Int, joinType: String = "inner"): DataFrame = {
    val l = left.withColumn("__salt", (rand(seed = 42) * salts).cast("int"))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
