package graft

import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("bucketed tables join without a shuffle Exchange") {
    // clean any stale warehouse locations from earlier JVMs
    for (t <- Seq("li_b", "o_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val o = graft.core.Tables.t(spark, sf, "orders")
    Layout.writeBucketed(li.select("l_orderkey", "l_quantity"), "li_b", 4, Seq("l_orderkey"))
    Layout.writeBucketed(o.select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "o_b", 4, Seq("l_orderkey"))
    val joined = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
    // disable auto-broadcast so the bucket layout (not broadcast) is what
    // avoids the exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = spark.table("li_b").join(spark.table("o_b"), "l_orderkey")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(joined.count() > 0)
  }

  test("compact merges small files into range-partitioned ones, data intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    val li = graft.core.Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    li.repartition(24).write.mode("overwrite").parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    val before = parquetFiles
    val rows = spark.read.parquet(dir).count()
    val checksum = spark.read.parquet(dir)
      .agg(sum(col("l_orderkey") * col("l_quantity"))).collect()(0).getDouble(0)
    Layout.compact(spark, dir, Seq("l_orderkey"), targetRows = rows / 2 + 1)
    val after = parquetFiles
    assert(before >= 20 && after <= 4, s"files $before -> $after")
    val df2 = spark.read.parquet(dir)
    assert(df2.count() == rows)
    assert(df2.agg(sum(col("l_orderkey") * col("l_quantity")))
      .collect()(0).getDouble(0) == checksum)
    // MergeTree ORDER BY layout contract: each compacted file covers a
    // contiguous, pairwise-DISJOINT key range, so a point/range predicate
    // prunes whole files from their min/max stats alone.
    val ranges = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min("l_orderkey"), max("l_orderkey")).collect()(0)
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 <= lo2, s"file key ranges overlap: $hi1 > $lo2")
      case _ =>
    }
  }

  test("saltedJoin preserves exact join multiplicity") {
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val o = graft.core.Tables.t(spark, sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    val plain = li.join(o, "l_orderkey").count()
    val salted = Layout.saltedJoin(li, o, "l_orderkey", salts = 8).count()
    assert(plain == salted)
  }

  test("hive-partitioned write prunes partitions at the scan (PARTITION BY analog)") {
    // MergeTree PARTITION BY analog: a partitioned parquet layout turns an
    // equality filter on the partition key into directory pruning — the
    // scan's PartitionFilters, not a post-scan filter.
    val e = graft.core.Tables.t(spark, sf, "events")
    val path = s"${graft.core.Tables.scratchDir(spark)}/layout/events_by_type"
    e.write.mode("overwrite").partitionBy("event_type").parquet(path)
    val df = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("event_type"),
      s"no partition pruning:\n${plan.take(2000)}")
    val direct = e.filter(col("event_type") === "click").count()
    assert(df.count() == direct)
  }

  test("bloom-filtered parquet stores per-row-group blooms; probe filters pushed") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/t"
    val li = graft.core.Tables.t(spark, sf, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    Layout.writeWithBloomFilters(li, dir, Seq("l_partkey"), expectedNdv = 10000L)
    // footer really contains a bloom filter for l_partkey
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val conf = spark.sessionState.newHadoopConf()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(files.head.getAbsolutePath), conf))
    try {
      import scala.jdk.CollectionConverters._
      val rg = reader.getRowGroups.asScala.head
      val colMeta = rg.getColumns.asScala
        .find(_.getPath.toDotString == "l_partkey").get
      assert(colMeta.getBloomFilterOffset > 0,
        "no bloom filter written for l_partkey")
      val bf = reader.readBloomFilter(colMeta)
      assert(bf != null)
      // a present key must pass the filter (blooms have no false negatives)
      val some = li.select("l_partkey").head().getLong(0)
      assert(bf.findHash(bf.hash(some)), "present key rejected by bloom")
    } finally reader.close()
    // the equality probe that benefits reaches the scan as a pushed filter
    val probe = spark.read.parquet(dir).filter(col("l_partkey") === 42L)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("EqualTo(l_partkey,42)"), s"probe not pushed down:\n$scan")
    // data intact
    assert(spark.read.parquet(dir).count() == li.count())
  }
}
