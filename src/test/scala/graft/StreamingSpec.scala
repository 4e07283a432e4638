package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("file-source stream: tumbling counts match batch equivalent") {
    val stream = Streams.eventsStream(spark, sf)
    assert(stream.isStreaming)
    val q = Streams.tumblingCounts(stream).writeStream
      .format("memory").queryName("tumble_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumble_out")
      .agg(sum("n")).collect()(0).getLong(0)
    // append mode emits only windows at/behind the final watermark; the
    // last day's windows stay open, so emitted <= total and > 0
    val total = graft.core.Tables.t(spark, sf, "events").count()
    assert(got > 0 && got <= total)
  }

  test("kafkaIntake builds the real kafka readStream topology (asserted without a broker)") {
    import graft.streaming.Streams
    val r = Streams.kafkaReader(spark, "broker1:9092,broker2:9092", "events_topic",
      Map("kafka.group.id" -> "graft_intake", "maxOffsetsPerTrigger" -> "10000"))
    // the reader's declared source + option set (private on the classic
    // DataStreamReader — reflect them out)
    val cls = r.getClass
    def fieldValue(name: String): Any = {
      val f = cls.getDeclaredField(name); f.setAccessible(true); f.get(r)
    }
    assert(fieldValue("source") === "kafka")
    val opts = fieldValue("extraOptions")
      .asInstanceOf[scala.collection.Map[String, String]]
    assert(opts("kafka.bootstrap.servers") === "broker1:9092,broker2:9092")
    assert(opts("subscribe") === "events_topic")
    assert(opts("startingOffsets") === "latest")
    assert(opts("failOnDataLoss") === "false")
    assert(opts("kafka.group.id") === "graft_intake")
    assert(opts("maxOffsetsPerTrigger") === "10000")
    // load() must resolve the GENUINE kafka data source: in this
    // zero-egress sandbox the connector jar is absent, so resolution
    // fails BY NAME — proving the topology asks for the real source,
    // not a stub. (With spark-sql-kafka on the classpath the same call
    // returns the streaming frame kafkaIntake parses.)
    val e = intercept[Exception](
      Streams.kafkaIntake(spark, "broker1:9092", "events_topic"))
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
    // and the post-load topology is the SAME function the live socket
    // e2e test drives (parseKafkaFeed) — proven against a real feed below.
  }

  test("live socket intake end-to-end: push feed -> parse -> watermark window -> sink") {
    // The closest live-broker analog this zero-egress sandbox can host
    // (no kafka-clients/broker jar exists here): a real TCP server pushes
    // lines, Spark's socket source consumes them over the wire, and the
    // same watermark+window topology a Kafka feed would use (reference
    // StorageKafka -> MV pipeline, src/Storages/Kafka/StorageKafka.h:37)
    // aggregates to a sink. Swapping `format("socket")` for
    // `format("kafka")` + broker options is the ONLY production delta.
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    @volatile var sent = false
    val feeder = new Thread(() => {
      val s = server.accept()
      val out = new java.io.PrintWriter(s.getOutputStream, true)
      for (m <- 0 until 30)
        out.println(f"2024-01-01 10:${m}%02d:00,u${m % 3},${m * 1.5}%.1f")
      out.flush(); sent = true
      Thread.sleep(60000); s.close() // keep the connection open for the reader
    })
    feeder.setDaemon(true); feeder.start()
    val raw = spark.readStream.format("socket")
      .option("host", "localhost").option("port", port).load()
    assert(raw.isStreaming)
    // the EXACT topology kafkaIntake runs after load() — the socket feed
    // stands in for the broker, nothing else differs
    val agg = graft.streaming.Streams.parseKafkaFeed(raw)
    val q = agg.writeStream.format("memory").queryName("socket_out")
      .outputMode("complete").start()
    val deadline = System.currentTimeMillis() + 30000
    while (!sent && System.currentTimeMillis() < deadline) Thread.sleep(50)
    q.processAllAvailable(); q.stop(); server.close()
    val rows = spark.table("socket_out").collect()
    // 30 events, 3 windows (10:00/10:10/10:20) x 3 users = 9 groups
    assert(rows.map(_.getLong(2)).sum == 30)
    assert(rows.length == 9)
    // spot-check one group: window 10:00, u0 gets minutes 0,3,6,9 -> n=4
    val g = rows.find(r => r.getString(1) == "u0" &&
      r.getTimestamp(0).toString.startsWith("2024-01-01 10:00")).get
    assert(g.getLong(2) == 4 && math.abs(g.getDouble(3) - (0 + 3 + 6 + 9) * 1.5) < 1e-9)
  }

  test("watermark drops late rows in append aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Double)]
    val df = mem.toDF().toDF("ts", "value")
    val agg = df.withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "10 minutes")).agg(count(lit(1)).as("n"))
      .select($"window.start".as("w"), $"n")
    val q = agg.writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    mem.addData((t(0), 1.0), (t(5), 1.0))   // window 10:00
    q.processAllAvailable()
    mem.addData((t(40), 1.0))               // advances watermark past 10:00
    q.processAllAvailable()
    mem.addData((t(2), 99.0))               // LATE: behind watermark, dropped
    q.processAllAvailable()
    mem.addData((t(90), 1.0))               // close the 10:40 window too
    q.processAllAvailable(); q.stop()
    val rows = spark.table("late_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 10:00 window must have exactly its 2 on-time rows (late row dropped)
    assert(rows("2024-01-01 10:00:00.0") == 2L)
  }

  test("dropDuplicatesWithinWatermark dedups streaming keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val df = mem.toDF().toDF("ts", "k")
    val q = Streams.dedupWithinWatermark(df, Seq("k"), "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val base = Timestamp.valueOf("2024-01-01 10:00:00")
    mem.addData((base, 1L), (base, 1L), (base, 2L))
    q.processAllAvailable()
    mem.addData((new Timestamp(base.getTime + 60000), 1L)) // dup within watermark
    q.processAllAvailable(); q.stop()
    val ks = spark.table("dedup_out").select("k").collect().map(_.getLong(0)).toSeq
    assert(ks.sorted == Seq(1L, 2L))
  }

  test("foreachBatch MV: partial aggregates merge to batch ground truth") {
    val tmp = java.nio.file.Files.createTempDirectory("mv").toString
    val stream = Streams.eventsStream(spark, sf)
    val writer = Streams.mvAppendSink(stream,
      b => b.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
      s"$tmp/mv")
    val q = writer.start()
    q.processAllAvailable(); q.stop()
    val mv = Streams.readMv(spark, s"$tmp/mv")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = graft.core.Tables.t(spark, sf, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(mv == truth)
  }

  test("checkpointed MV survives a mid-stream crash: restart is exactly-once") {
    import spark.implicits._
    // Crash is injected AFTER the sink write of batch 1 but BEFORE its
    // checkpoint commit — the classic double-write window. On restart from
    // the checkpoint the batch is redelivered with the same id and must
    // REPLACE its first attempt (dynamic partition overwrite), while
    // already-committed batch 0 must not rerun. Reference guarantee:
    // ObjectStorageQueue / insert-dedup survive process death.
    val root = java.nio.file.Files.createTempDirectory("mv_restart").toString
    val (in, mv, ckpt) = (s"$root/in", s"$root/mv", s"$root/ckpt")
    val marker = new java.io.File(s"$root/crashed_once")
    Seq("a", "b").toDF("k").coalesce(1).write.parquet(s"$in/f1.parquet")
    Seq("b", "c").toDF("k").coalesce(1).write.parquet(s"$in/f2.parquet")
    val schema = spark.read.parquet(s"$in/f1.parquet").schema
    def writer() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Streams.mvWriteBatch(b,
          (d: org.apache.spark.sql.DataFrame) =>
            d.groupBy(col("k")).agg(count(lit(1)).as("n")),
          mv, id)
        if (id >= 1 && !marker.exists()) {
          marker.createNewFile()
          throw new RuntimeException("injected crash after sink write")
        }
      }
    val q1 = writer().start()
    val died = intercept[Exception] { q1.awaitTermination() }
    assert(died.getMessage == null || !died.getMessage.contains("impossible"))
    assert(marker.exists(), "the injected crash fired")
    // wave 2 lands while the pipeline is down
    Seq("c", "d").toDF("k").coalesce(1).write.parquet(s"$in/f3.parquet")
    val q2 = writer().start()
    q2.awaitTermination()
    val got = Streams.readMv(spark, mv)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every row counted exactly once: the redelivered batch didn't double,
    // the committed batch didn't rerun, the post-crash wave isn't missing
    assert(got == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("mvWriteBatch's dynamic overwrite stays on its own write, off the session conf") {
    val s = spark.newSession()
    import s.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val default = s.conf.get(key)
    val root = graft.core.Tables.scratchDir(s)
    val (table, mv) = (s"$root/overwrite_p", s"$root/overwrite_mv")
    Seq((1, "a"), (2, "b")).toDF("p", "v").write.partitionBy("p").parquet(table)
    Streams.mvWriteBatch(Seq("a", "b").toDF("k"),
      (d: org.apache.spark.sql.DataFrame) => d.groupBy(col("k")).agg(count(lit(1)).as("n")),
      mv, 0L)
    assert(s.conf.get(key) == default)
    // a later plain overwrite in the same session replaces the whole table
    Seq((1, "c")).toDF("p", "v").write.mode("overwrite").partitionBy("p").parquet(table)
    val got = s.read.parquet(table).select("p", "v").as[(Int, String)].collect().toSet
    assert(got == Set(1 -> "c"), "partition p=2 survived the overwrite")
  }

  test("incremental LSH dedup finds cross-batch near-dups exactly once") {
    import spark.implicits._
    val statePath = s"${graft.core.Tables.scratchDir(spark)}/inc_lsh_${System.nanoTime()}"
    // 80 distinct tokens => ~78 distinct 3-gram shingles; a one-word edit
    // keeps jaccard ≈ 0.93
    val base = (0 until 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok79", "tok79x")
    val unrelated = (0 until 80).map(i => s"other$i").mkString(" ")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val found = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val pairs = graft.llm.Dedup.incrementalLshDedup(
          batch, "doc_id", "text", statePath, threshold = 0.7)
        found.synchronized {
          found ++= pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
        }
        ()
      }.start()
    // batch 1: two intra-batch near-dups + one unrelated
    mem.addData((1L, base), (2L, nearDup), (10L, unrelated))
    q.processAllAvailable()
    val afterB1 = found.toSet
    assert(afterB1 == Set((1L, 2L)), s"batch1 pairs: $afterB1")
    // batch 2: a new near-dup of doc 1 -> cross-batch pairs only
    mem.addData((3L, base + "omega"))
    q.processAllAvailable()
    q.stop()
    val afterB2 = found.toSet
    assert(afterB2.contains((1L, 3L)) && afterB2.contains((2L, 3L)),
      s"cross-batch near-dup missed: $afterB2")
    assert(afterB2.count(p => p == (1L, 2L)) == 1, "batch-1 pair re-emitted")
    assert(!afterB2.exists(p => p._1 == 10L || p._2 == 10L), "unrelated doc matched")
  }

  test("corpus intake stream: stratified sampling is map-side streamable") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    // md5-threshold sampling is a pure projection/filter — it runs inside
    // a streaming micro-batch with no state, watermark, or shuffle.
    val q = graft.llm.Corpus.stratifiedSample(
        mem.toDF().toDF("doc_id", "lang"), col("lang"), col("doc_id"),
        Map("en" -> 0.5), 0.25)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized { out ++= b.collect().map(_.getLong(0)) }; ()
      }.start()
    val rows = (0L until 200L).map(i => (i, if (i % 2 == 0) "en" else "de"))
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    // deterministic: matches the batch run exactly
    val batch = graft.llm.Corpus.stratifiedSample(
        rows.toDF("doc_id", "lang"), col("lang"), col("doc_id"),
        Map("en" -> 0.5), 0.25)
      .collect().map(_.getLong(0)).toSet
    assert(out.toSet == batch && batch.nonEmpty)
  }

  test("stream-stream interval join matches in-window pairs with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoin(
      imps.toDF().toDF("its", "k"), "its",
      clicks.toDF().toDF("cts", "k2").withColumnRenamed("k2", "k"), "cts",
      "k", "30 minutes", watermark = "10 minutes")
      .select(col("l.k").as("k"), col("its"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    imps.addData((t(0), 1L), (t(0), 2L), (t(5), 3L))
    clicks.addData((t(10), 1L),  // in window for k=1
      (t(50), 2L),               // OUTSIDE [t0, t0+30] for k=2
      (t(20), 3L), (t(25), 3L))  // two clicks in window for k=3
    q.processAllAvailable(); q.stop()
    val got = spark.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2))).toSet
    assert(got == Set((1L, t(10)), (3L, t(20)), (3L, t(25))))
  }

  test("stream-stream leftOuter join emits unmatched rows after watermark closes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Timestamp, Long)]
    val clicks = MemoryStream[(Timestamp, Long)]
    val joined = Streams.intervalJoin(
      imps.toDF().toDF("its", "k"), "its",
      clicks.toDF().toDF("cts", "k2").withColumnRenamed("k2", "k"), "cts",
      "k", "10 minutes", joinType = "leftOuter", watermark = "5 minutes")
      .select(col("l.k").as("k"), col("cts"))
    val q = joined.writeStream.format("memory").queryName("ssj_outer")
      .outputMode("append").start()
    def t(min: Int) = Timestamp.valueOf(f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
    imps.addData((t(0), 1L), (t(0), 2L))
    clicks.addData((t(5), 1L)) // k=1 matches; k=2 never clicked
    q.processAllAvailable()
    // advance BOTH watermarks far past k=2's join window
    imps.addData((t(120), 9L))
    clicks.addData((t(120), 8L))
    q.processAllAvailable()
    imps.addData((t(180), 9L)) // one more advance so the outer row flushes
    clicks.addData((t(180), 8L))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj_outer").collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1))).toMap
    assert(rows(1L).contains(t(5)))
    assert(rows.contains(2L) && rows(2L).isEmpty, "unmatched left row must flush with null right")
  }

  test("DDSketch quantile aggregates incrementally over a stream") {
    // the sketch is fully mergeable, so streaming partial aggregation
    // (arbitrary batch splits) must land on the identical estimate the
    // one-shot batch computes
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.udaf
    val dd = udaf(new graft.aggregates.DDSketchAggregator(0.01, 0.5),
      org.apache.spark.sql.Encoders.scalaDouble)
    val mem = MemoryStream[(String, Double)]
    val agg = mem.toDF().toDF("g", "x").groupBy($"g").agg(dd($"x").as("p50"))
    val q = agg.writeStream.format("memory").queryName("dd_out")
      .outputMode("complete").start()
    val values = (1 to 500).map(i => ("a", (i % 97 + 1).toDouble))
    values.grouped(111).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("dd_out").collect()(0).getDouble(1)
    val batch = values.toDF("g", "x").groupBy($"g").agg(dd($"x")).collect()(0).getDouble(1)
    assert(streamed == batch, s"stream $streamed != batch $batch")
    // and the estimate respects the 1% relative-error contract vs exact
    val exact = values.map(_._2).sorted.apply((0.5 * (values.size - 1)).toInt)
    assert(math.abs(streamed - exact) / exact <= 0.011,
      s"estimate $streamed vs exact $exact")
  }

  test("ingest dedup survives a mid-stream crash: state restores, restart is exactly-once") {
    import spark.implicits._
    // Same double-write window as the MV restart test, but for the
    // STATEFUL path: dropDuplicatesWithinWatermark keeps seen keys in the
    // state store. Crash after the sink write of batch 1, before its
    // checkpoint commit. On restart the batch is redelivered: the
    // recovered state must still suppress duplicates seen in batch 0,
    // and the redelivered sink write must replace its first attempt.
    // Reference guarantee: DeduplicationTokenTransforms insert dedup
    // survives process death.
    val root = java.nio.file.Files.createTempDirectory("dedup_restart").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val marker = new java.io.File(s"$root/crashed_once")
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00")
    def ts(min: Int) = new Timestamp(t0.getTime + min * 60000L)
    Seq((ts(0), 1L), (ts(0), 1L), (ts(1), 2L)).toDF("ts", "k")
      .coalesce(1).write.parquet(s"$in/f1.parquet")
    // k=1 duplicates a batch-0 key WITHIN the watermark; k=3 is new
    Seq((ts(2), 1L), (ts(3), 3L)).toDF("ts", "k")
      .coalesce(1).write.parquet(s"$in/f2.parquet")
    val schema = spark.read.parquet(s"$in/f1.parquet").schema
    def run() = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      Streams.dedupWithinWatermark(src, Seq("k"), watermark = "1 hour")
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          // idempotent sink: the batch owns its partition
          b.withColumn("__batch_id", lit(id))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("__batch_id").parquet(out)
          if (id >= 1 && !marker.exists()) {
            marker.createNewFile()
            throw new RuntimeException("injected crash after sink write")
          }
        }.start()
    }
    val q1 = run()
    intercept[Exception] { q1.awaitTermination() }
    assert(marker.exists(), "the injected crash fired")
    // wave 3 lands while the pipeline is down: another k=1 dup + k=4
    Seq((ts(4), 1L), (ts(5), 4L)).toDF("ts", "k")
      .coalesce(1).write.parquet(s"$in/f3.parquet")
    val q2 = run()
    q2.awaitTermination()
    val ks = spark.read.parquet(out).select("k")
      .collect().map(_.getLong(0)).toSeq.sorted
    // each key exactly once: batch-0 state survived the crash (k=1 from
    // the redelivered batch stays suppressed), the redelivered batch
    // didn't double k=3, the post-crash wave isn't missing k=4
    assert(ks == Seq(1L, 2L, 3L, 4L), s"got $ks")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }

  test("incremental LSH intake survives a mid-stream crash: no dup pairs, no lost docs") {
    import spark.implicits._
    // incrementalLshDedup's parquet state (band postings + doc texts) is
    // OUTSIDE the checkpoint, so a redelivered micro-batch would append a
    // second copy of its own signatures and pair every doc with its stale
    // twin. batchId-keyed dynamic-partition-overwrite appends + own-batch
    // history exclusion make the state write idempotent. Crash after the
    // batch-1 state write, before its checkpoint commit; restart and
    // verify pairs AND state are exactly-once.
    val root = java.nio.file.Files.createTempDirectory("lsh_restart").toString
    val (in, state, pairsOut, ckpt) = (s"$root/in", s"$root/state", s"$root/pairs", s"$root/ckpt")
    val marker = new java.io.File(s"$root/crashed_once")
    val base = (0 until 80).map(i => s"tok$i").mkString(" ")
    val nearDup = base.replace("tok79", "tok79x")
    Seq((1L, base), (2L, nearDup)).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f1.parquet")
    Seq((3L, base + "omega")).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f2.parquet")
    val schema = spark.read.parquet(s"$in/f1.parquet").schema
    def run() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        val pairs = graft.llm.Dedup.incrementalLshDedup(
          b, "doc_id", "text", state, threshold = 0.7, batchId = id)
        // idempotent pair sink, same batch-partition scheme as the state
        pairs.select(col("a"), col("b")).withColumn("__batch_id", lit(id))
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch_id").parquet(pairsOut)
        if (id >= 1 && !marker.exists()) {
          marker.createNewFile()
          throw new RuntimeException("injected crash after state write")
        }
      }.start()
    val q1 = run()
    intercept[Exception] { q1.awaitTermination() }
    assert(marker.exists(), "the injected crash fired")
    // wave 3 (a near-dup of all three docs) lands while the pipeline is down
    Seq((4L, base.replace("tok0 ", "tok0x "))).toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$in/f3.parquet")
    val q2 = run()
    q2.awaitTermination()
    val got = spark.read.parquet(pairsOut).select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // exactly-once pairs: the redelivered batch's first attempt was
    // replaced, nothing doubled, nothing lost
    assert(got.size == got.toSet.size, s"duplicated pairs: $got")
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L),
      (1L, 4L), (2L, 4L), (3L, 4L)), s"got ${got.toSet}")
    // exactly-once state: each doc's text and signatures appear once —
    // the crashed batch-1 attempt was overwritten, not appended to
    val docs = spark.read.parquet(s"$root/state/docs")
    assert(docs.count() == 4 && docs.select("id").distinct().count() == 4,
      "state docs duplicated or lost")
    val perDoc = spark.read.parquet(s"$root/state/bands")
      .groupBy(col("id")).count().select("count")
      .collect().map(_.getLong(0)).toSet
    assert(perDoc.size == 1, s"uneven band-row counts per doc: $perDoc")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
  }
}
