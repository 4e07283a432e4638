package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

/** The `ingest_mv` workload, an open loop. During set-up the sf0.1 `events`
  * table is cut, in event-time order from a seeded start, into slices of
  * `rowsPerFile` rows; a seeded share of events is sent a second time in
  * the same or the next slice. Each slice is staged as one parquet file.
  *
  * A checkpointed file-source stream over the landing directory drops
  * duplicate `event_id`s within the watermark and writes per-batch partial
  * counts through `Streams.mvWriteBatch`. A generator thread lands one
  * staged file every `1/rate` seconds for `seconds` seconds (a file's due
  * time is fixed by that schedule, whenever it actually lands), and a
  * reader thread calls `Streams.readMv` every `readEvery` seconds. Before
  * that schedule starts, `warmFiles` land and commit unmeasured, so the view
  * exists and the stream is past its cold first batches. Then, in each of
  * `backlogRounds` rounds, a backlog of `backlogRows` events lands at once
  * and its drain is timed. At the
  * end the view must equal the same counts taken over the distinct landed
  * events. */
final class Ingest(spark: SparkSession, dir: String, seed: Long, seconds: Double,
                   tracer: Option[Tracer], work: File) {
  // The reasons for these values, with the measurements behind them, are
  // in README.md ("ingest_mv traffic").
  val rate = 8.0
  val rowsPerFile = 100
  val dupPercent = 5
  val backlogRows = 25000
  val backlogFiles = 4
  val backlogRounds = 3
  val warmFiles = 3
  val readEvery = 2.0
  val liveFiles: Int = math.ceil(seconds * rate).toInt

  private val staging = new File(work, "staging")
  private val landing = new File(work, "landing")
  private val checkpoint = new File(work, "checkpoint")
  private val mv = new File(work, "mv").getPath

  private def transform(batch: DataFrame): DataFrame =
    batch.groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))

  /** Stages every live slice as one parquet file, in landing order, and each
    * backlog round as `backlogFiles` files. */
  private def stage(): (Seq[File], Seq[Seq[File]]) = {
    val events = graft.core.Tables.t(spark, dir, "events")
    val total = events.count()
    val files = warmFiles + liveFiles
    val liveRows = files.toLong * rowsPerFile
    val rows = liveRows + backlogRounds.toLong * backlogRows
    require(rows <= total, s"events at $dir has only $total rows")
    val start = new scala.util.Random(seed).nextInt((total - rows + 1).toInt)
    val rn = col("rn")
    val sliced = events
      .withColumn("rn", row_number().over(Window.orderBy(col("ts"), col("event_id"))) - 1 - start)
      .where(rn >= 0 && rn < rows)
      .withColumn("slice", when(rn < liveRows, (rn / rowsPerFile).cast("int"))
        .otherwise(lit(files) + ((rn - liveRows) / backlogRows).cast("int")))
    val h = pmod(xxhash64(col("event_id"), lit(seed)), lit(100))
    val dups = sliced.where(h < dupPercent)
      .withColumn("slice", least(col("slice") + h % 2, lit(files + backlogRounds - 1)))
    val all = sliced.unionByName(dups).drop("rn").cache()
    all.where(col("slice") < files).coalesce(1)
      .write.partitionBy("slice").parquet(new File(staging, "live").getPath)
    all.where(col("slice") >= files).repartition(backlogFiles)
      .write.partitionBy("slice").parquet(new File(staging, "backlog").getPath)
    all.unpersist()
    def parts(d: String) = new File(staging, d).listFiles().filter(_.getName.endsWith(".parquet")).toSeq
    ((0 until files).map { i =>
      val p = parts(s"live/slice=$i")
      require(p.length == 1, s"slice $i staged as ${p.length} files")
      p.head
    }, (0 until backlogRounds).map(r => parts(s"backlog/slice=${files + r}")))
  }

  def run(): Map[String, Any] = {
    val clock = scala.collection.mutable.LinkedHashMap("start" -> Clock.ms)
    val (staged, stagedBacklog) = stage()
    clock("staged") = Clock.ms
    landing.mkdirs()
    val schema = spark.read.parquet(staged.head.getPath).schema
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val mvWrites = new ConcurrentLinkedQueue[Map[String, Any]]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.durationMs.containsKey("addBatch")) {
          val state = p.stateOperators.headOption
          batches.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows,
            "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            "state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
            "state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L)) ++
            p.durationMs.asScala.map { case (k, v) => (k + "_ms") -> v.longValue })
        }
      }
    }
    spark.streams.addListener(listener)
    tracer.foreach(_.attach())

    val stream = spark.readStream.schema(schema).parquet(landing.getPath)
    val query = graft.streaming.Streams.dedupWithinWatermark(stream, Seq("event_id"), "1 hour")
      .writeStream
      .option("checkpointLocation", checkpoint.getPath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = Clock.ms
        graft.streaming.Streams.mvWriteBatch(batch, transform, mv, id)
        mvWrites.add(Map("batch" -> id, "start" -> t0, "end" -> Clock.ms))
        ()
      }
      .trigger(Trigger.ProcessingTime(0L))
      .start()

    def land(from: File, name: String): Double = {
      Files.move(from.toPath, new File(landing, name + ".parquet").toPath, StandardCopyOption.ATOMIC_MOVE)
      Clock.ms
    }
    def name(i: Int) = f"f_$i%05d"
    // the stream's first batches run cold: land a few files, one at a time,
    // and let each commit before the schedule starts; not measured
    (0 until warmFiles).foreach { i => land(staged(i), name(i)); query.processAllAvailable() }
    val liveFrom = mvWrites.asScala.map(_("batch").asInstanceOf[Long]).max + 1
    clock("warm") = Clock.ms

    val landed = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    @volatile var open = true
    val t0 = Clock.ms + 200.0
    val generator = new Thread(() => {
      for (k <- 0 until liveFiles) {
        val i = warmFiles + k
        val due = t0 + k * 1000.0 / rate
        val wait = due - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        landed.add(Map("file" -> name(i), "due" -> due, "landed" -> land(staged(i), name(i))))
      }
    }, "graftbench-generator")
    val reader = new Thread(() => {
      var k = 0
      while (open) {
        val due = t0 + k * readEvery * 1000.0
        val wait = due - Clock.ms
        if (wait > 0) Thread.sleep(wait.toLong)
        if (open) {
          val s = Clock.ms
          try {
            val n = graft.streaming.Streams.readMv(spark, mv).collect().length
            reads.add(Map("due" -> due, "start" -> s, "end" -> Clock.ms, "rows" -> n))
          } catch {
            case e: Throwable => reads.add(Map("due" -> due, "start" -> s, "error" -> String.valueOf(e.getMessage).take(300)))
          }
        }
        k += 1
      }
    }, "graftbench-reader")
    generator.start(); reader.start()
    generator.join()
    open = false
    reader.join()
    clock("window") = Clock.ms
    query.processAllAvailable()
    clock("caught_up") = Clock.ms

    // a round's few files land back to back, within well under a millisecond
    val drains = stagedBacklog.zipWithIndex.map { case (fs, r) =>
      val at = Clock.ms
      fs.zipWithIndex.foreach { case (f, j) => land(f, s"b${r}_$j") }
      query.processAllAvailable()
      Map("start" -> at, "end" -> Clock.ms)
    }
    query.stop()
    tracer.foreach(_.detach())
    spark.streams.removeListener(listener)

    val drained = drains.zipWithIndex.map { case (d, r) =>
      d + ("rows" -> spark.read.parquet(stagedBacklog(r).indices.map(j => new File(landing, s"b${r}_$j.parquet").getPath): _*).count())
    }
    val view = Canon.of(graft.streaming.Streams.readMv(spark, mv))
    val want = Canon.of(transform(spark.read.parquet(landing.getPath).dropDuplicates("event_id")))
    clock("checked") = Clock.ms
    def bytes(f: File): Long =
      if (f.isDirectory) f.listFiles().map(bytes).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L

    Map(
      "rate_files_per_s" -> rate, "rows_per_file" -> rowsPerFile, "dup_percent" -> dupPercent,
      "warm_files" -> warmFiles, "live_files" -> liveFiles, "backlog_rows" -> backlogRows,
      "backlog_rounds" -> backlogRounds,
      "read_every_s" -> readEvery, "live_from_batch" -> liveFrom,
      "landed" -> landed.asScala.toSeq, "reads" -> reads.asScala.toSeq, "clock" -> clock,
      "batches" -> batches.asScala.toSeq, "mv_writes" -> mvWrites.asScala.toSeq,
      "file_batches" -> fileBatches(),
      "drains" -> drained,
      "mv_partitions" -> new File(mv).listFiles().count(_.getName.startsWith("__batch_id=")),
      "mv_bytes" -> bytes(new File(mv)), "input_bytes" -> bytes(landing),
      "check" -> Map("view_rows" -> view.rows, "view_fingerprint" -> view.fingerprint,
        "want_rows" -> want.rows, "want_fingerprint" -> want.fingerprint))
  }

  /** Which micro-batch took each landed file. The file-source log in the
    * checkpoint gives each file the source's own batch number, and the
    * offset log gives each micro-batch the last source batch it read; the
    * two differ once the stream has run a batch without new data. */
  private def fileBatches(): Map[String, Long] = {
    def lines(dir: String): Seq[(File, Seq[String])] =
      Option(new File(checkpoint, dir).listFiles()).getOrElse(Array.empty[File]).toSeq
        .filterNot(_.getName.startsWith(".")).map(f => f -> Files.readAllLines(f.toPath).asScala.toSeq)
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    val sourceBatch = lines("sources/0").flatMap(_._2).flatMap(entry.findFirstMatchIn)
      .map(m => m.group(1).split('/').last.stripSuffix(".parquet") -> m.group(2).toLong).toMap
    val logOffset = "\"logOffset\":(\\d+)".r
    val readUpTo = lines("offsets").filter(_._1.getName.forall(_.isDigit)).flatMap { case (f, ls) =>
      ls.flatMap(logOffset.findFirstMatchIn).headOption.map(m => m.group(1).toLong -> f.getName.toLong)
    }.sorted
    sourceBatch.flatMap { case (file, s) =>
      readUpTo.collectFirst { case (upTo, micro) if upTo >= s => file -> micro }
    }
  }
}
