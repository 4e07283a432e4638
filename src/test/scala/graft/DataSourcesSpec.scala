package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Source/sink formats (SURVEY.md §2.1 input/output formats): CSV, JSON,
  * ORC, text round-trips through the same DataFrame surface, plus the
  * Memory (createDataFrame) and Merge (unionByName) storage analogs. */
class DataSourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  def tmp(): String = java.nio.file.Files.createTempDirectory("ds").toString

  test("csv round-trip preserves rows and values") {
    val d = graft.core.Tables.t(spark, sf, "documents")
      .select("doc_id", "lang", "source", "n_chars")
    val dir = tmp() + "/csv"
    d.write.option("header", "true").csv(dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == d.count())
    val a = d.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val b = back.orderBy("doc_id").collect().map(r =>
      (r.getAs[Number]("doc_id").longValue, r.getString(1), r.getAs[Number]("n_chars").longValue))
    assert(a.sameElements(b))
  }

  test("json round-trip preserves nested struct") {
    val d = graft.core.Tables.t(spark, sf, "nation")
      .select(col("n_nationkey"), struct(col("n_name"), col("n_regionkey")).as("info"))
    val dir = tmp() + "/json"
    d.write.json(dir)
    val back = spark.read.json(dir)
    assert(back.count() == 25)
    assert(back.select("info.n_name").distinct().count() == 25)
  }

  test("orc round-trip") {
    val d = graft.core.Tables.t(spark, sf, "region")
    val dir = tmp() + "/orc"
    d.write.orc(dir)
    assert(spark.read.orc(dir).count() == 5)
  }

  test("text + regexp parse (Regexp input format analog)") {
    val dir = tmp() + "/txt"
    graft.core.Tables.t(spark, sf, "nation")
      .select(concat_ws("|", col("n_nationkey"), col("n_name"))).write.text(dir)
    val parsed = spark.read.text(dir)
      .select(regexp_extract(col("value"), "^([0-9]+)\\|(.*)$", 1).cast("int").as("k"),
        regexp_extract(col("value"), "^([0-9]+)\\|(.*)$", 2).as("name"))
    assert(parsed.filter(col("name") =!= "").count() == 25)
  }

  test("Memory engine analog: createDataFrame; Merge analog: unionByName") {
    import spark.implicits._
    val m1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val m2 = Seq((3, "c")).toDF("k", "v")
    assert(m1.unionByName(m2).count() == 3)
  }

  test("avro container round-trip (AvroIO over avro-mapred)") {
    val d = graft.core.Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").cast("long").as("k"), col("n_name").as("name"),
        col("n_regionkey").cast("long").as("r"))
    val dir = tmp() + "/avro"
    graft.sources.AvroIO.write(d, dir)
    // on-disk files are standard Avro object container files (magic "Obj\1")
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".avro")).head
    val magic = java.nio.file.Files.readAllBytes(part.toPath).take(4)
    assert(magic.sameElements(Array[Byte]('O', 'b', 'j', 1)))
    val back = graft.sources.AvroIO.read(spark, dir, d.schema)
    assert(back.count() == 25)
    val a = d.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val b = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(a.sameElements(b))
  }

  test("proto3 wire vectors match the public encoding spec") {
    import org.apache.spark.sql.types._
    // sint32 field1 = 1 -> tag 0x08, zigzag(1)=2  (protobuf.dev encoding
    // guide, signed-integer section); sint32 field1 = -1 -> varint 1
    val s1 = StructType(Seq(StructField("a", IntegerType)))
    assert(graft.sources.ProtoWire.encodeRow(org.apache.spark.sql.Row(1), s1)
      .sameElements(Array[Byte](0x08, 0x02)))
    assert(graft.sources.ProtoWire.encodeRow(org.apache.spark.sql.Row(-1), s1)
      .sameElements(Array[Byte](0x08, 0x01)))
    // string field2 = "testing" -> tag 0x12, len 7 (guide's LEN example)
    val s2 = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType)))
    val enc = graft.sources.ProtoWire.encodeRow(org.apache.spark.sql.Row(0, "testing"), s2)
    assert(enc.sameElements(Array[Byte](0x12, 0x07) ++ "testing".getBytes("UTF-8")))
    // proto3 default elision: zeros/empty encode to nothing and decode back
    val zero = graft.sources.ProtoWire.encodeRow(org.apache.spark.sql.Row(0, ""), s2)
    assert(zero.isEmpty)
    val back = graft.sources.ProtoWire.decodeRow(enc, 0, enc.length, s2)
    assert(back.getInt(0) == 0 && back.getString(1) == "testing")
    // unknown-field skip: decode a 3-field message with a 2-field schema
    val s3 = StructType(Seq(StructField("a", IntegerType), StructField("b", StringType),
      StructField("c", DoubleType)))
    val enc3 = graft.sources.ProtoWire.encodeRow(
      org.apache.spark.sql.Row(5, "x", 2.5), s3)
    val back2 = graft.sources.ProtoWire.decodeRow(enc3, 0, enc3.length, s2)
    assert(back2.getInt(0) == 5 && back2.getString(1) == "x")
  }

  test("RowBinary round-trip; byte layout matches the reference format") {
    import org.apache.spark.sql.types._
    // byte-level pin: Int64 1 LE, then varint-length 'ab', then Float64
    // 1.5 LE (0x3FF8000000000000) — the exact stream the reference's
    // RowBinary reader expects for (Int64, String, Float64)
    val s = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType)))
    val bos = new java.io.ByteArrayOutputStream()
    graft.sources.RowBinary.encodeRow(bos, org.apache.spark.sql.Row(1L, "ab", 1.5), s)
    val expect = Array[Byte](1, 0, 0, 0, 0, 0, 0, 0, 2, 'a', 'b',
      0, 0, 0, 0, 0, 0, 0xF8.toByte, 0x3F)
    assert(bos.toByteArray.sameElements(expect),
      s"got ${bos.toByteArray.map(b => f"$b%02x").mkString(" ")}")
    // long varint: 300-byte string length encodes as AC 02
    val bos2 = new java.io.ByteArrayOutputStream()
    graft.sources.RowBinary.writeVarint(bos2, 300L)
    assert(bos2.toByteArray.sameElements(Array[Byte](0xAC.toByte, 0x02)))
    // distributed round trip over real .bin files
    val d = graft.core.Tables.t(spark, sf, "customer")
      .select(col("c_custkey").cast("long").as("k"), col("c_name").as("name"),
        col("c_acctbal").cast("double").as("bal"))
    val dir = tmp() + "/rowbinary"
    graft.sources.RowBinary.write(d, dir)
    assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".bin")))
    val back = graft.sources.RowBinary.read(spark, dir, d.schema)
    val a = d.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("MsgPack wire vectors match the public spec; round-trip holds") {
    import org.apache.spark.sql.types._
    val s = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("b", BooleanType)))
    val bos = new java.io.ByteArrayOutputStream()
    // spec vectors: fixarray(4), positive fixint 1, fixstr "abc",
    // float64 1.5 (big-endian 3FF8...), true
    graft.sources.MsgPack.encodeRow(bos, org.apache.spark.sql.Row(1L, "abc", 1.5, true), s)
    val expect = Array[Byte](0x94.toByte, 0x01, 0xa3.toByte, 'a', 'b', 'c',
      0xcb.toByte, 0x3F, 0xF8.toByte, 0, 0, 0, 0, 0, 0, 0xc3.toByte)
    assert(bos.toByteArray.sameElements(expect),
      s"got ${bos.toByteArray.map(b => f"$b%02x").mkString(" ")}")
    // negative fixint and int boundaries
    def enc(v: Long): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(); graft.sources.MsgPack.writeInt(o, v)
      o.toByteArray
    }
    assert(enc(-1L).sameElements(Array[Byte](0xff.toByte)))
    assert(enc(-32L).sameElements(Array[Byte](0xe0.toByte)))
    assert(enc(128L).sameElements(Array[Byte](0xcc.toByte, 0x80.toByte)))
    assert(enc(256L).sameElements(Array[Byte](0xcd.toByte, 0x01, 0x00)))
    assert(enc(-33L).sameElements(Array[Byte](0xd0.toByte, 0xdf.toByte)))
    // round trip with nulls through real files
    val d = graft.core.Tables.t(spark, sf, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_name")).as("name"),
        col("c_acctbal").cast("double").as("bal"))
    val dir = tmp() + "/msgpack"
    graft.sources.MsgPack.write(d, dir)
    val back = graft.sources.MsgPack.read(spark, dir, d.schema)
    val a = d.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("protobuf length-delimited round-trip through SequenceFile") {
    val d = graft.core.Tables.t(spark, sf, "supplier")
      .select(col("s_suppkey").cast("long").as("k"), col("s_name").as("name"),
        col("s_acctbal").cast("double").as("bal"))
    val dir = tmp() + "/proto"
    graft.sources.ProtoWire.write(d, dir)
    val back = graft.sources.ProtoWire.read(spark, dir, d.schema)
    assert(back.count() == d.count())
    val a = d.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val b = back.orderBy("k").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(a.sameElements(b))
  }

  test("npy round-trip: embeddings matrix + id sidecar, spec-exact header") {
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
    val dir = tmp() + "/npy"
    graft.sources.NpyIO.write(emb, "vec_id", "embedding", dir)
    // header bytes follow the public numpy.lib.format v1.0 layout
    val f = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .filter(_.toString.matches(".*part-\\d+\\.npy")).findFirst().get()
    val head = java.nio.file.Files.readAllBytes(f)
    assert(head(0) == 0x93.toByte && new String(head, 1, 5) == "NUMPY")
    assert(head(6) == 1 && head(7) == 0) // v1.0
    val hlen = (head(8) & 0xff) | ((head(9) & 0xff) << 8)
    assert((10 + hlen) % 64 == 0, "header padded to 64-byte boundary")
    val dict = new String(head, 10, hlen)
    assert(dict.contains("'descr': '<f4'") && dict.contains("'fortran_order': False"))
    // round trip: same ids, same vectors (float32-exact: source is float)
    val back = graft.sources.NpyIO.read(spark, dir)
    assert(back.count() == emb.count())
    val a = emb.orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(a.sameElements(b))
  }

  test("RowBinary rejects null values with a clear message, not an NPE") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("s", StringType, nullable = true)))
    val row = org.apache.spark.sql.Row(null)
    val e = intercept[IllegalArgumentException] {
      graft.sources.RowBinary.encodeRow(new java.io.ByteArrayOutputStream, row, schema)
    }
    assert(e.getMessage.contains("null"))
  }

  test("Pretty output format: box table, numeric right-align, full-data widths") {
    import spark.implicits._
    val d = Seq((1L, "a"), (22L, "bb"), (333L, "long-tail")).toDF("k", "s")
    val got = graft.sources.TextFormats.pretty(d.orderBy("k"), maxRows = 2)
    val expect =
      """┌─────┬───────────┐
        |│ k   │ s         │
        |├─────┼───────────┤
        |│   1 │ a         │
        |│  22 │ bb        │
        |└─────┴───────────┘""".stripMargin
    assert(got == expect) // widths reflect row 3 even though only 2 shown
  }

  test("Markdown output format matches the GitHub-table shape") {
    import spark.implicits._
    val d = Seq((1L, "plain"), (2L, "pipe|br")).toDF("n", "txt")
    val got = graft.sources.TextFormats.markdown(d.orderBy("n"))
    val expect = "| n | txt |\n| ---: | --- |\n| 1 | plain |\n| 2 | pipe\\|br |"
    assert(got == expect)
  }

  test("SQLInsert output format: quoting, NULL, batching") {
    import spark.implicits._
    val d = Seq((1L, Some("it's"), Some(2.5)), (2L, None, None),
      (3L, Some("x"), Some(1.0))).toDF("id", "s", "v")
    val got = graft.sources.TextFormats.sqlInsert(d.orderBy("id"), "t", batchRows = 2)
    val expect =
      "INSERT INTO t (id, s, v) VALUES (1, 'it''s', 2.5), (2, NULL, NULL);\n" +
        "INSERT INTO t (id, s, v) VALUES (3, 'x', 1.0);"
    assert(got == expect)
  }

  test("markdown/sqlInsert distributed line renderers run in executors") {
    val d = graft.core.Tables.t(spark, sf, "nation")
      .select(col("n_nationkey").cast("long").as("k"), col("n_name"))
    assert(graft.sources.TextFormats.markdownLines(d).count() == 25)
    val lines = graft.sources.TextFormats.sqlInsertLines(d.orderBy("k")).collect()
    assert(lines.length == 25 && lines.head.startsWith("(0, '"))
  }

  test("writeMarkdown: distributed sink round-trips >maxRows rows") {
    import spark.implicits._
    val n = 5000 // far above the driver-side markdown() default cap of 1000
    val d = spark.range(n).select(col("id").as("k"),
      concat(lit("row|"), col("id")).as("txt")).repartition(7)
    val path = java.nio.file.Files.createTempDirectory("graft_md").toString
    try {
      graft.sources.TextFormats.writeMarkdown(d, path)
      val back = spark.read.text(path).as[String].collect()
      assert(back.length == n + 2, "header + alignment + one line per row")
      assert(back.contains("| k | txt |"))
      assert(back.contains("| ---: | --- |"))
      // parse the data lines back and compare the full key set
      val keys = back.filter(l => l.startsWith("| ") && !l.contains("---") &&
          !l.contains("| k |"))
        .map(_.stripPrefix("| ").split(" \\| ")(0).toLong).toSet
      assert(keys == (0L until n).toSet)
      // the pipe inside the value is escaped
      assert(back.exists(_.contains("row\\|42")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("writePretty: distributed sink keeps global widths and box borders") {
    import spark.implicits._
    val n = 2500
    val d = spark.range(n).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("s")).repartition(5)
    val path = java.nio.file.Files.createTempDirectory("graft_pp").toString
    try {
      graft.sources.TextFormats.writePretty(d, path)
      val back = spark.read.text(path).as[String].collect()
      assert(back.length == n + 4, "top + header + sep + rows + bottom")
      assert(back.count(_.startsWith("┌")) == 1)
      assert(back.count(_.startsWith("└")) == 1)
      // every line has the same display width (global two-pass widths)
      assert(back.map(_.length).toSet.size == 1)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("writePretty: widths survive nulls/dates/decimals (cell rendering)") {
    import spark.implicits._
    // format_string("%s", date) and cell(date) render differently; widths
    // must come from cell() or the box misaligns (r11 advice)
    val d = Seq(
      (Some(java.sql.Date.valueOf("2024-01-31")), Option("abcdefghij")),
      (None: Option[java.sql.Date], None: Option[String])
    ).toDF("d", "s").repartition(2)
    val path = java.nio.file.Files.createTempDirectory("graft_ppw").toString
    try {
      graft.sources.TextFormats.writePretty(d, path)
      val back = spark.read.text(path).as[String].collect()
      assert(back.map(_.length).toSet.size == 1, "all lines equal width")
      assert(back.forall(l => !l.contains("│││")), "no collapsed cells")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  test("writeSqlInsert: distributed sink emits valid batched statements") {
    import spark.implicits._
    val n = 2000
    val d = spark.range(n).select(col("id"),
      concat(lit("s'"), col("id")).as("s")).repartition(4)
    val path = java.nio.file.Files.createTempDirectory("graft_si").toString
    try {
      graft.sources.TextFormats.writeSqlInsert(d, "t", path, batchRows = 64)
      val back = spark.read.text(path).as[String].collect()
      assert(back.forall(l =>
        l.startsWith("INSERT INTO t (id, s) VALUES (") && l.endsWith(");")))
      // one '(' per VALUES tuple plus one in the "(id, s)" column list
      val tuples = back.map(_.count(_ == '(') - 1).sum
      assert(tuples == n, "every row appears in exactly one VALUES tuple")
      assert(back.exists(_.contains("'s''42'")), "quotes escaped")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
  }

  /** Spark jobs this thread starts while `body` runs. Listener events are
    * delivered in order, so a marker job started afterwards flushes them. */
  private def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.spec.phase"
    val tag = s"open-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.contains(s"$tag-end") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(s"$tag-end"), "marker job never reached the listener")
      seen.toArray.count(_ == tag)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("opening fixtures, MV reads and a routed aggregate run no Spark job") {
    import graft.core.Tables
    // a fresh session has nothing memoized: all 10 tables really resolve
    val fresh = spark.newSession()
    assert(jobsDuring(Tables.all.foreach(Tables.t(fresh, sf, _))) == 0)

    val mv = tmp() + "/mv"
    Seq(0L, 1L).foreach { id =>
      graft.streaming.Streams.mvWriteBatch(Tables.t(spark, sf, "events"),
        _.groupBy(col("event_type")).agg(count(lit(1)).as("n")), mv, id)
    }
    assert(jobsDuring(graft.streaming.Streams.readMv(spark, mv)) == 0)

    // the summary registers in the fresh session only
    import graft.plans.ProjectionRouting
    val fact = Tables.t(fresh, sf, "lineitem")
    ProjectionRouting.ensureSummary(fresh, s"$sf/lineitem.parquet", fact,
      Seq("l_returnflag"), Seq("l_quantity"), tmp() + "/summary")
    val routed = fact.groupBy(col("l_returnflag")).agg(sum(col("l_quantity")))
    assert(jobsDuring(routed.queryExecution.optimizedPlan) == 0)
    assert(routed.queryExecution.optimizedPlan.toString.contains("sum_l_quantity"))
  }

  test("footer schema equals the schema spark.read.parquet infers") {
    val dirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"${new java.io.File(sf).getParent}/$d")
      .filter(d => new java.io.File(d).isDirectory)
    val paths = for (d <- dirs; n <- graft.core.Tables.all) yield s"$d/$n.parquet"
    // a Spark-written directory: _SUCCESS and .crc files, partition columns
    val part = tmp() + "/part"
    spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS k", "CAST(id AS STRING) AS s")
      .write.partitionBy("k").parquet(part)
    (paths :+ part).foreach { p =>
      assert(graft.core.Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("eventsStream has the batch events schema") {
    assert(graft.streaming.Streams.eventsStream(spark, sf).schema ==
      graft.core.Tables.t(spark, sf, "events").schema)
  }
}
