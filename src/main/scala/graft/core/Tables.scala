package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import scala.jdk.CollectionConverters._

/** Table access over the driver-generated parquet fixtures
  * (see /root/repo/TESTDATA.md, FIXTURES.md).
  *
  * Mirrors the reference's named-table model (`IStorage` registered in a
  * factory — reference `src/Storages/registerStorages.cpp`) as plain
  * DataFrame sources: at 100 TB each `t(...)` call is a columnar scan that
  * Catalyst prunes/pushes into, so no caching layer is interposed here.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one fixture table. Column pruning + predicate pushdown reach the
    * parquet scan automatically because this is a plain declarative read.
    *
    * The resolved DataFrame (schema + file listing, no data) is memoized
    * per (session, dir, name): fixture dirs are immutable, and re-listing
    * + reading the parquet footer on every call is pure per-query driver
    * overhead — the same catalog-cache role the reference's IStorage
    * registry plays. Resolving a table runs no Spark job (see `parquet`).
    *
    * A weak-keyed map cannot drop a session here, because every DataFrame
    * value holds its own session; instead each miss drops the entries of
    * sessions whose context has stopped. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val key = (spark, dir, name)
    val hit = resolved.get(key)
    if (hit != null) hit
    else {
      resolved.keySet.removeIf(_._1.sparkContext.isStopped)
      resolved.computeIfAbsent(key, { _ =>
        guardSchema(name,
          if (name == "events") readEvents(spark, s"$dir/$name.parquet")
          else parquet(spark, s"$dir/$name.parquet"))
      })
    }
  }

  /** Sessions whose resolved tables are memoized (for tests). */
  private[graft] def resolvedSessions: Set[SparkSession] =
    resolved.keySet.asScala.map(_._1).toSet

  /** Open a parquet file or directory with its schema already supplied,
    * as the reference attaches a table from its stored column list
    * (`IStorage`) without running a query. The schema comes from the
    * footer of the first data file, read on the driver and converted by
    * Spark's own code (`FooterSchema`), so it equals what
    * `spark.read.parquet` infers — whose inference starts a one-task
    * Spark job per path, ~70–100 ms on 4 cores. Partition columns are
    * still inferred from the directory names. A path with no data file
    * is handed to `spark.read.parquet` so Spark reports its own error. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    firstDataFile(spark, path).flatMap(FooterSchema.read(spark, _)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The file schema inference reads (`ParquetUtils.splitFiles`): the
    * first leaf in full-path order, skipping the names the file index
    * skips — `_`/`.` prefixes, except `_k=v` partition directories. */
  private def firstDataFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }
    def leaves(s: FileStatus): Iterator[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).iterator.filterNot(hidden).flatMap(leaves)
      else Iterator(s)
    if (!fs.exists(root)) None
    else leaves(fs.getFileStatus(root)).minByOption(_.getPath.toString)
  }

  /** A directory owned by `spark` for files its queries write (indexes,
    * summaries, format round-trips): created on first use under the
    * SparkContext's driver temp directory (`spark.local.dir`, else
    * `java.io.tmpdir`), which Spark deletes when the context stops.
    * Concurrent sessions and runs never share one. */
  private val scratch = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String])

  def scratchDir(spark: SparkSession): String =
    scratch.computeIfAbsent(spark, _ => java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(org.apache.spark.SparkFiles.getRootDirectory()), "scratch-").toString)

  /** Expected fixture dtypes (TESTDATA.md / FIXTURES.md), checked once at
    * first load of each table. A regenerated fixture whose schema drifted
    * should fail HERE with a one-line diagnosis, not 50 queries deep in
    * hash mismatches (the round-8 events.ts incident — its ns/NTZ/us
    * drift is the one legitimate variation, which readEvents normalizes
    * BEFORE this guard sees the frame). `timestamp` accepts TZ and NTZ
    * loads: the parquet writer flips between them across generations and
    * every consumer casts through the session-UTC equivalence. */
  private val expected: Map[String, Seq[(String, String)]] = Map(
    "region" -> Seq("r_regionkey" -> "int", "r_name" -> "string"),
    "nation" -> Seq("n_nationkey" -> "int", "n_name" -> "string",
      "n_regionkey" -> "int"),
    "customer" -> Seq("c_custkey" -> "bigint", "c_name" -> "string",
      "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
    "supplier" -> Seq("s_suppkey" -> "bigint", "s_name" -> "string",
      "s_nationkey" -> "int", "s_acctbal" -> "double"),
    "part" -> Seq("p_partkey" -> "bigint", "p_name" -> "string",
      "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
      "p_retailprice" -> "double"),
    "orders" -> Seq("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
      "o_orderstatus" -> "string", "o_totalprice" -> "double",
      "o_orderdate" -> "timestamp", "o_orderpriority" -> "string"),
    "lineitem" -> Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
      "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
      "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
      "l_returnflag" -> "string", "l_linestatus" -> "string",
      "l_shipdate" -> "timestamp"),
    "events" -> Seq("event_id" -> "bigint", "ts" -> "timestamp",
      "user_id" -> "bigint", "event_type" -> "string", "value" -> "double",
      "props" -> "string"),
    "documents" -> Seq("doc_id" -> "bigint", "text" -> "string",
      "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
    "embeddings" -> Seq("vec_id" -> "bigint", "embedding" -> "array<float>",
      "label" -> "int"))

  /** For hasColumnInTable (round 10): declared-schema lookup. None when
    * the table itself is unknown. */
  def hasColumn(table: String, col: String): Option[Boolean] =
    expected.get(table).map(_.exists(_._1 == col))

  private def guardSchema(name: String, df: DataFrame): DataFrame = {
    expected.get(name).foreach { cols =>
      val actual = df.schema.map(f => f.name -> f.dataType.simpleString).toMap
      cols.foreach { case (c, want) =>
        actual.get(c) match {
          case None => throw new IllegalStateException(
            s"fixture schema drift: $name has no column $c (expected $want); " +
              s"present: ${df.columns.mkString(", ")} — regenerated fixture? " +
              "adapt the loader (cf. readEvents) or update Tables.expected")
          case Some(got) =>
            val ok = got == want ||
              (want == "timestamp" && got == "timestamp_ntz")
            if (!ok) throw new IllegalStateException(
              s"fixture schema drift: $name.$c is $got, expected $want — " +
                "regenerated fixture? adapt the loader (cf. readEvents) " +
                "or update Tables.expected")
        }
      }
    }
    df
  }

  /** `events.ts` has shifted physical encodings across fixture generations:
    * parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects
    * outright — readable only as a raw ns long under the legacy conf) vs
    * timestamp[us] (loaded as TIMESTAMP or TIMESTAMP_NTZ). Branch on the
    * loaded schema so every generation resolves to the same UTC
    * TimestampType column, and DuckDB oracle comparisons agree. */
  private def readEvents(spark: SparkSession, path: String): DataFrame =
    normalizeEventsTs(openEvents(spark, path))

  /** The events file as stored (`ts` not yet normalized). */
  private[graft] def openEvents(spark: SparkSession, path: String): DataFrame =
    try parquet(spark, path)
    catch {
      case _: Exception =>
        // ns fixture: TIMESTAMP(NANOS) is rejected at schema conversion;
        // decode it as a raw long. The conf must stay set for the session —
        // parquet footers are re-read lazily at execution time, which is
        // also why it can't be a per-read option.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        parquet(spark, path)
    }

  /** `ts` as a UTC TimestampType column, whatever `openEvents` loaded. */
  private[graft] def normalizeEventsTs(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    events.schema("ts").dataType match {
      case TimestampType    => events
      // session timeZone is UTC, so NTZ wall-clock == UTC instant
      case TimestampNTZType => events.withColumn("ts", col("ts").cast(TimestampType))
      // raw ns long: truncate ns→µs with exact integer arithmetic
      // (matches DuckDB's ns→µs truncation)
      case _ => events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    }
  }

  /** Register every fixture table as a temp view so `spark.sql` works on
    * the same names the DuckDB oracle sees.
    *
    * Memoized per (session, dir): ChSql.sql calls this on EVERY dialect
    * query, and re-registering 10 views + the udaf set measured ~64 ms
    * of pure driver time per query (r18) — fixed overhead that
    * serializes at high QPS (guide §5: the driver should do almost no
    * per-query work). The anchor runner's per-test reset
    * drops the session's temp views, so ChSql.resetSessionState calls
    * invalidateRegistered to force the next sql() to re-register. */
  // weak-keyed (ADVICE r18): a ConcurrentHashMap would strongly hold
  // stopped sessions forever — a JVM that builds sessions back-to-back
  // leaked them. WeakHashMap entries vanish with the session.
  private val registeredDir = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String])

  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (dir == registeredDir.get(spark)) return
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    registerUdafs(spark)
    registeredDir.put(spark, dir)
  }

  /** Forget that `spark`'s fixture views are registered (they were
    * dropped or shadowed) — the next registerAll re-creates them. */
  def invalidateRegistered(spark: SparkSession): Unit =
    registeredDir.remove(spark)

  /** SQL names for the custom Aggregators (Expression-based kernels go
    * through GraftExtensions.injectFunction; Aggregators need the udf
    * registry). Registered once per session — each registration builds
    * fresh ExpressionEncoders (~4 ms/call, r18), and function
    * registrations survive the anchor runner's view reset. */
  private val udafsDone = java.util.Collections.newSetFromMap(
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]))

  def registerUdafs(spark: SparkSession): Unit = {
    if (!udafsDone.add(spark)) return
    import org.apache.spark.sql.functions.udaf
    import org.apache.spark.sql.Encoders
    spark.udf.register("uniq_theta",
      udaf(new graft.aggregates.KmvDistinctAggregator(), Encoders.scalaLong))
    // -State form: raw KMV buffer for the uniqTheta set-op functions
    spark.udf.register("uniq_theta_state",
      udaf(new graft.aggregates.KmvStateAggregator(), Encoders.scalaLong))
    // -Merge form: two-level aggregation over persisted states
    val arrLongEnc: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    spark.udf.register("uniq_theta_merge",
      udaf(new graft.aggregates.KmvMergeAggregator(), arrLongEnc))
    // -MergeState form: merged state stays a state (uniqMergeState)
    spark.udf.register("uniq_theta_merge_state",
      udaf(new graft.aggregates.KmvMergeStateAggregator(), arrLongEnc))
    spark.udf.register("top_k",
      udaf(new graft.aggregates.TopKAggregator(10), Encoders.STRING))
    // quantile_dd_<pct> at the reference's default 0.01 relative accuracy
    // (alpha/level are constructor params — the udf registry has no
    // parameterized-aggregate syntax, so common levels get fixed names)
    Seq(50, 90, 99).foreach { pct =>
      spark.udf.register(s"quantile_dd_$pct",
        udaf(new graft.aggregates.DDSketchAggregator(0.01, pct / 100.0),
          Encoders.scalaDouble))
    }
    // stochastic{Linear,Logistic}Regression analogs (MlMethods.scala):
    // input = array(y, x1 .. xk), state = [tag, w1..wk, intercept]
    val seqDoubleEnc: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
    spark.udf.register("ml_linreg_state",
      udaf(new graft.aggregates.MlRegressionAggregator(logistic = false), seqDoubleEnc))
    spark.udf.register("ml_logreg_state",
      udaf(new graft.aggregates.MlRegressionAggregator(logistic = true), seqDoubleEnc))
  }

  /** Capacity of Spark's generated-class cache (`CodeGenerator.cache`),
    * the counterpart of the reference's `CompiledExpressionCache`. Spark's
    * default of 100 entries is smaller than one query's working set:
    * measured at sf0.01, one pass over the 326 runnable inventory queries
    * compiles 2,933 distinct classes (3,177 with stage ids in class names,
    * see `session`) and `q_groups_frame_sweep` alone ~100, so under LRU a
    * repeated query missed and recompiled (Janino) almost every class.
    * 4096 is ~1.4x that working set. The cache holds compiled classes
    * keyed by their source, never results. Spark reads this static conf
    * once per JVM, when `CodeGenerator` first initializes: it takes effect
    * only if the first code generation of the JVM runs under a session
    * built here. */
  private val CodegenCacheEntries = 4096

  /** Session defaults for local[32] iteration; the same settings scale to a
    * real cluster (AQE re-plans partitions at runtime). */
  def session(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // trivial-count/min/max from parquet footer statistics (reference
      // optimize_trivial_count_query + MergeTree count() from metadata):
      // bare COUNT/MIN/MAX over a scan never touches row data.
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // CH Map accepts duplicate keys, keeps them, and LOOKUP returns
      // the FIRST match (reference arrayElement.cpp). Spark has no
      // FIRST_WIN policy — the map-LITERAL rewrite drops later
      // duplicate literal keys to emulate first-match; LAST_WIN here
      // only remains reachable for runtime-computed duplicate keys,
      // where Spark's EXCEPTION default would otherwise throw
      .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
      .config("spark.ui.enabled", "false")
      // long sessions run thousands of queries whose rewritten plans are
      // LARGE strings; the status store's default 1000 retained
      // executions holds them all on the driver heap (observed: OOM in
      // the forked test JVM once the suite crossed ~500 queries)
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // the class cache is keyed by generated source, and a whole-stage
      // class is named after its codegen stage id, which AQE assigns in
      // stage-completion order: with the id in the name, a second pass
      // over the inventory at sf0.01 compiled 147 new classes in 21
      // queries; without it, 32 in 7
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
