package graft.streaming

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Streaming surface (SURVEY.md §2.9): file-source streams over the
  * fixture layout, event-time windows (tumble/hop/session — reference
  * FunctionsTimeWindow.cpp tumble/hop; session is a Spark superset),
  * watermarked late-data handling (reference StorageWindowView
  * max_watermark/updateMaxWatermark), streaming dedup
  * (DeduplicationTokenTransforms → dropDuplicatesWithinWatermark), and
  * materialized-view chains (StorageMaterializedView → foreachBatch).
  */
object Streams {

  /** Streaming read of the events fixture: the batch path's schema and
    * ts normalization (Tables.openEvents / normalizeEventsTs), driven
    * through readStream (file source = the S3Queue/FileLog analog). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    Tables.normalizeEventsTs(spark.readStream
      .schema(Tables.openEvents(spark, s"$dir/events.parquet").schema)
      // file source needs a directory; select just the events file
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir))

  /** Tumbling-window aggregate with watermark (WindowView tumble +
    * bounded watermark; append mode emits only finalized windows). */
  def tumblingCounts(events: DataFrame, window_ : String = "1 day",
                     watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("total"))

  /** Kafka-family live source (reference src/Storages/Kafka/StorageKafka.h:37
    * — kafka_broker_list / kafka_topic_list / kafka_group_name settings):
    * the production readStream reader, exactly as it would run against a
    * broker. This sandbox ships neither a broker nor the
    * spark-sql-kafka connector jar (zero egress), so `load()` cannot
    * succeed HERE — the spec asserts (1) this reader's declared source is
    * the real `kafka` format with the right option set, (2) load()
    * resolves the genuine kafka DataSource (its lookup failure names it),
    * and (3) the downstream topology end-to-end over a live TCP feed
    * (`parseKafkaFeed` below — shared with the socket e2e test). */
  def kafkaReader(spark: SparkSession, brokers: String, topic: String,
                  opts: Map[String, String] = Map.empty)
      : org.apache.spark.sql.streaming.DataStreamReader = {
    val base = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      // sane production defaults, overridable through opts
      .option("startingOffsets", opts.getOrElse("startingOffsets", "latest"))
      .option("failOnDataLoss", opts.getOrElse("failOnDataLoss", "false"))
    opts.foldLeft(base) { case (acc, (k, v)) => acc.option(k, v) }
  }

  /** The topology a Kafka feed runs after load(): broker `value` bytes
    * are `ts,user,value` CSV lines (the same wire format the socket e2e
    * test pushes), parsed then watermark-windowed — the StorageKafka →
    * materialized-view chain. Source-agnostic: any DataFrame with a
    * binary/string `value` column (kafka, socket, memory) drives it. */
  def parseKafkaFeed(raw: DataFrame, watermark: String = "5 minutes",
                     window_ : String = "10 minutes"): DataFrame = {
    val parsed = raw.select(col("value").cast("string").as("line"))
      .select(split(col("line"), ",").as("f"))
      .select(element_at(col("f"), 1).cast("timestamp").as("ts"),
        element_at(col("f"), 2).as("user"),
        element_at(col("f"), 3).cast("double").as("v"))
    parsed.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("user"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .select(col("window.start").as("w_start"), col("user"),
        col("n"), col("sv"))
  }

  /** Full Kafka intake: reader + parse/window topology. Runs verbatim on
    * a cluster with the kafka connector on the classpath. */
  def kafkaIntake(spark: SparkSession, brokers: String, topic: String,
                  opts: Map[String, String] = Map.empty): DataFrame =
    parseKafkaFeed(kafkaReader(spark, brokers, topic, opts).load())

  /** Streaming dedup on a business key within the watermark horizon
    * (ReplacingMergeTree-on-ingest / insert dedup tokens). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           watermark: String = "1 day"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Materialized-view chain (StorageMaterializedView analog): each
    * micro-batch is transformed to partial aggregates and appended to a
    * parquet target, partitioned by batch id — an AggregatingMergeTree-
    * style MV holding partial states. Retried batches overwrite their own
    * partition (dynamic partition overwrite), which is what makes the
    * chain exactly-once. Read the view back with `readMv`, which merges
    * partials — the -State/-Merge split (reference
    * DataTypeAggregateFunction + QueryProcessingStage::WithMergeableState). */
  def mvAppendSink(events: DataFrame, transform: DataFrame => DataFrame,
                   path: String): DataStreamWriter[Row] =
    events.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mvWriteBatch(batch, transform, path, batchId)
      }
      .trigger(Trigger.AvailableNow())

  /** One MV micro-batch write: partials land in the batch's OWN partition
    * under dynamic partition overwrite, so a batch redelivered after a
    * crash (sink write done, checkpoint commit lost) replaces its first
    * attempt instead of duplicating it — the idempotence that makes the
    * chain exactly-once across restarts (reference
    * DeduplicationTokenTransforms insert-dedup guarantee). */
  def mvWriteBatch(batch: DataFrame, transform: DataFrame => DataFrame,
                   path: String, batchId: Long): Unit = {
    // the id goes in as a string: codegen inlines a long literal into the
    // generated source, so every batch compiled a new class, while a string
    // literal is passed by reference and the class is reused across batches;
    // the partition directory (`__batch_id=<id>`) is the same either way
    transform(batch)
      .withColumn("__batch_id", lit(batchId.toString))
      .write.mode("overwrite")
      // a writer option, not the session conf: the conf would turn every
      // later overwrite in the session into a dynamic one
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(path)
  }

  /** Merge the MV's per-batch partial aggregates: keys = all columns but
    * the last measure column, which is summed. */
  def readMv(spark: SparkSession, path: String): DataFrame = {
    val df = Tables.parquet(spark, path).drop("__batch_id")
    val keys = df.columns.dropRight(1)
    df.groupBy(keys.map(col): _*)
      .agg(sum(col(df.columns.last)).as(df.columns.last))
  }

  /** Stream-stream event-time interval join: rows of `right` join rows of
    * `left` with the same `key` whose right timestamp falls in
    * [leftTs, leftTs + within]. Both sides are watermarked, and the range
    * condition is what lets Spark BOUND the join state — buffered rows
    * are evicted once the watermark passes their reachable window, so
    * state is O(rate × (watermark + within)), not O(stream). The
    * reference pairs a stream against tables/MVs (StorageKafka → MV
    * joins); joining two live streams with bounded state is the Spark
    * superset of that surface. joinType "leftOuter" emits the unmatched
    * left rows (with null right columns) only after the watermark closes
    * their window — same late-data discipline as append-mode aggregation. */
  def intervalJoin(left: DataFrame, leftTs: String,
                   right: DataFrame, rightTs: String,
                   key: String, within: String,
                   joinType: String = "inner",
                   watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).alias("l")
    val r = right.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      expr(s"l.$key = r.$key AND r.$rightTs >= l.$leftTs " +
        s"AND r.$rightTs <= l.$leftTs + interval $within"),
      joinType)
  }
}
