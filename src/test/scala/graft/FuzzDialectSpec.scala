package graft

import org.scalatest.funsuite.AnyFunSuite

/** The Spark half of the differential dialect fuzzer: 1000 seeded random
  * expression trees over the CH-dialect surface must translate and
  * evaluate without error, deterministically, and give the values DuckDB
  * gave for the same trees (recorded once by `tools/fuzz_check.py
  * --record`, so this spec runs without DuckDB). The larger cross-engine
  * diff runs via tools/fuzz_check.py against DuckDB (FUZZ.md records each
  * round's run). */
class FuzzDialectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  /** The expression columns whose values differ from DuckDB's, as
    * `<tag> <column>` (FuzzDialect.specCases tags). Each is a wrong answer
    * that is reported here rather than skipped; the value test fails when
    * one of them starts to match, so the list cannot go stale. */
  val knownRed: Set[String] = Set()

  test("fuzzed expressions give DuckDB's recorded values") {
    import FuzzDialectSpec._
    val recorded = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/fuzz_seed8_values.tsv"), "UTF-8")
    val expected = try recorded.getLines().map { line =>
      val f = line.split("\t", -1)
      (f(0), f(1), f(2)) -> unescape(f(3))
    }.toMap finally recorded.close()
    val cases = graft.tools.FuzzDialect.specCases
    assert(expected.keySet.map(_._1) == cases.map(_.tag).toSet)
    val red = cases.flatMap { c =>
      val df = graft.sqlfront.ChSql.sql(spark, sf, c.ch)
      val keyAt = df.schema.fieldIndex(c.key)
      val rows = df.collect()
      df.schema.fieldNames.filter(_ != c.key).toSeq.flatMap { col =>
        val at = df.schema.fieldIndex(col)
        val want = expected.collect { case ((c.tag, `col`, k), v) => k -> v }
        val got = rows.map(r => norm(r.get(keyAt)) -> r.get(at)).toMap
        assert(got.keySet == want.keySet, s"${c.tag} $col: keys differ")
        val same = want.forall { case (k, v) =>
          if (c.float) close(got(k), v) else norm(got(k)) == v
        }
        if (same) None else Some(s"${c.tag} $col")
      }
    }.toSet
    assert(red -- knownRed == Set.empty, "values differ from DuckDB's")
    assert(knownRed -- red == Set.empty, "known-red cases now match: take them off the list")
  }

  test("1000 fuzzed dialect expressions translate, evaluate, and are deterministic") {
    val all = graft.tools.FuzzDialect.exprs(seed = 8L, n = 1000)
    assert(all.size == 1000)
    // determinism: the same seed must regenerate the identical trees
    // (otherwise the python replay would diff different expressions)
    val again = graft.tools.FuzzDialect.exprs(seed = 8L, n = 1000)
    assert(all.map(_.ch) == again.map(_.ch) && all.map(_.duck) == again.map(_.duck))
    all.grouped(50).zipWithIndex.foreach { case (batch, i) =>
      val df = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(batch, "doc_id < 20"))
      val rows = df.collect()
      assert(rows.length == 20, s"batch $i returned ${rows.length} rows")
    }
  }

  test("fuzzed aggregate and date queries translate, evaluate, and are deterministic") {
    val aggs = graft.tools.FuzzDialect.aggQueries(seed = 8L, n = 20)
    assert(aggs == graft.tools.FuzzDialect.aggQueries(seed = 8L, n = 20))
    aggs.take(5).foreach { a =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chAggSelect(a)).collect()
      assert(rows.nonEmpty)
    }
    val dates = graft.tools.FuzzDialect.dateExprs(seed = 8L, n = 100)
    assert(dates == graft.tools.FuzzDialect.dateExprs(seed = 8L, n = 100))
    dates.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chDateSelect(b, "o_orderkey < 50")).collect()
      assert(rows.nonEmpty)
    }
  }

  test("fuzzed float expressions translate, evaluate, and are deterministic") {
    val floats = graft.tools.FuzzDialect.floatExprs(seed = 8L, n = 100)
    assert(floats == graft.tools.FuzzDialect.floatExprs(seed = 8L, n = 100))
    floats.grouped(25).foreach { b =>
      val df = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chFloatSelect(b, "doc_id < 20"))
      // every fuzzed column must come back DOUBLE (the CH Float64
      // contract) — a DECIMAL here means a literal escaped the rewrite
      df.schema.fields.drop(1).foreach(f =>
        assert(f.dataType == org.apache.spark.sql.types.DoubleType, f.name))
      assert(df.collect().length == 20)
    }
  }

  test("fuzzed NULL-propagation expressions translate, evaluate, and are deterministic") {
    val nulls = graft.tools.FuzzDialect.nullExprs(seed = 8L, n = 100)
    assert(nulls == graft.tools.FuzzDialect.nullExprs(seed = 8L, n = 100))
    nulls.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed array/lambda expressions translate, evaluate, and are deterministic") {
    val arrs = graft.tools.FuzzDialect.arrExprs(seed = 8L, n = 100)
    assert(arrs == graft.tools.FuzzDialect.arrExprs(seed = 8L, n = 100))
    arrs.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed map expressions translate, evaluate, and are deterministic") {
    val maps = graft.tools.FuzzDialect.mapExprs(seed = 8L, n = 100)
    assert(maps == graft.tools.FuzzDialect.mapExprs(seed = 8L, n = 100))
    maps.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed json expressions translate, evaluate, and are deterministic") {
    val jsons = graft.tools.FuzzDialect.jsonExprs(seed = 8L, n = 100)
    assert(jsons == graft.tools.FuzzDialect.jsonExprs(seed = 8L, n = 100))
    jsons.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed utf8 byte-semantics expressions translate, evaluate, and are deterministic") {
    val utf8s = graft.tools.FuzzDialect.utf8Exprs(seed = 8L, n = 100)
    assert(utf8s == graft.tools.FuzzDialect.utf8Exprs(seed = 8L, n = 100))
    utf8s.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed timestamp expressions translate, evaluate, and are deterministic") {
    val tss = graft.tools.FuzzDialect.tsExprs(seed = 8L, n = 100)
    assert(tss == graft.tools.FuzzDialect.tsExprs(seed = 8L, n = 100))
    tss.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chTsSelect(b, "event_id < 50")).collect()
      assert(rows.length == 50)
    }
  }

  test("fuzzed rounding expressions translate, evaluate, and are deterministic") {
    val rnds = graft.tools.FuzzDialect.roundExprs(seed = 8L, n = 100)
    assert(rnds == graft.tools.FuzzDialect.roundExprs(seed = 8L, n = 100))
    rnds.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("fuzzed conversion-parsing expressions translate, evaluate, and are deterministic") {
    val convs = graft.tools.FuzzDialect.convExprs(seed = 8L, n = 100)
    assert(convs == graft.tools.FuzzDialect.convExprs(seed = 8L, n = 100))
    convs.grouped(25).foreach { b =>
      val rows = graft.sqlfront.ChSql.sql(spark, sf,
        graft.tools.FuzzDialect.chSelect(b, "doc_id < 20")).collect()
      assert(rows.length == 20)
    }
  }

  test("formatDateTime converts MySQL-style tokens (literal formats)") {
    val r = graft.sqlfront.ChSql.sql(spark, sf,
      """SELECT formatDateTime(CAST('2024-03-05 07:08:09' AS TIMESTAMP), '%Y-%m-%d %H:%i:%S') AS a,
        |formatDateTime(CAST('2024-03-05 07:08:09' AS TIMESTAMP), '%F %R') AS b
        |FROM documents LIMIT 1""".stripMargin).collect()(0)
    assert(r.getString(0) == "2024-03-05 07:08:09")
    assert(r.getString(1) == "2024-03-05 07:08")
  }

  test("JSON extract defaults: missing key and wrong type never NULL or throw") {
    val r = graft.sqlfront.ChSql.sql(spark, sf,
      """SELECT JSONExtractInt('{"a": 3}', 'z') AS a,
        |JSONExtractString('{"a": 3}', 'z') AS b,
        |JSONExtractInt('{"a": "hello"}', 'a') AS c,
        |JSONExtractInt('{"n": {"x": 4}}', 'n', 'x') AS d,
        |JSONExtractInt('{"b": [7, 8]}', 'b', 2) AS e,
        |JSONLength('{"a": 1}', 'z') AS f,
        |JSONExtractInt(NULL, 'a') AS g
        |FROM documents LIMIT 1""".stripMargin).collect()(0)
    assert(r.getAs[Any]("a") == 0)
    assert(r.getAs[Any]("b") == "")
    assert(r.getAs[Any]("c") == 0)   // wrong type -> default, no ANSI throw
    assert(r.getAs[Any]("d") == 4)   // variadic key path
    assert(r.getAs[Any]("e") == 8)   // CH 1-based array index
    assert(r.getAs[Any]("f") == 0)
    assert(r.isNullAt(r.fieldIndex("g"))) // NULL json propagates
  }

  test("ch_element_at returns CH type defaults on out-of-bounds/missing keys") {
    import org.apache.spark.sql.Row
    val r = graft.sqlfront.ChSql.sql(spark, sf,
      "SELECT [1, 2][9] AS a, ['x'][5] AS b, map('k', 7)['z'] AS c, " +
        "[[1], [2]][7] AS d, arrayElement([5, 6], 0) AS e, " +
        "arrayElementOrNull([5, 6], 9) AS f, [1, 2][NULL] AS g " +
        "FROM documents LIMIT 1").collect()(0)
    assert(r.getAs[Any]("a") == 0)       // int default
    assert(r.getAs[Any]("b") == "")      // string default
    assert(r.getAs[Any]("c") == 0)       // map missing key
    assert(r.getAs[scala.collection.Seq[_]]("d").isEmpty) // nested array default
    assert(r.getAs[Any]("e") == 0)       // index 0 (CH non-const-0 contract)
    assert(r.isNullAt(r.fieldIndex("f"))) // OrNull variant stays NULL
    assert(r.isNullAt(r.fieldIndex("g"))) // NULL index propagates
  }

  test("rewriteFloatLiterals suffixes fractional literals outside strings only") {
    val r = graft.sqlfront.ChSql.rewriteFloatLiterals _
    assert(r("SELECT 7.0, x / 2.5") == "SELECT 7.0D, x / 2.5D")
    assert(r("1e3 + 2.5E-2") == "1e3D + 2.5E-2D")
    assert(r("SELECT '7.0', a") == "SELECT '7.0', a")          // string literal untouched
    assert(r("substr('a.b 1.2', 1, 3.5)") == "substr('a.b 1.2', 1, 3.5D)")
    assert(r("SELECT 42, arr[1]") == "SELECT 42, arr[1]")      // ints untouched
    assert(r("v1.2.3") == "v1.2.3")                            // dotted tokens untouched
    assert(r("CAST(1.5 AS DECIMAL(10,2))") == "CAST(1.5D AS DECIMAL(10,2))")
    assert(r("'it''s 1.5' || 2.5") == "'it''s 1.5' || 2.5D")   // escaped quote = two strings
  }
}

object FuzzDialectSpec {
  def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        sb.append(s.charAt(i + 1) match { case 't' => '\t'; case 'n' => '\n'; case c => c }); i += 2
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  /** A Spark value as `tools/fuzz_check.py`'s `norm` sees it after the
    * value went through parquet into pandas: NULL and NaN are `\N`,
    * an integral float or double prints as an integer, any other in
    * Python's repr of the double, booleans as `True`/`False`, dates ISO. */
  def norm(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "True" else "False"
    case d: Double if d.isNaN => "\\N"
    case d: Double if !d.isInfinite && d == math.rint(d) => new java.math.BigDecimal(d).toBigInteger.toString
    case d: Double => pyRepr(d)
    case f: Float => norm(f.toDouble)
    case b: Array[Byte] => new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case t: java.sql.Timestamp => pyTimestamp(t.toLocalDateTime)
    case t: java.time.LocalDateTime => pyTimestamp(t)
    case t: java.time.Instant => pyTimestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case other => other.toString
  }

  private def pyTimestamp(t: java.time.LocalDateTime): String = {
    val base = t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    if (t.getNano == 0) base else base + f".${t.getNano / 1000}%06d"
  }

  /** Python's repr of a finite or infinite double: shortest digits,
    * positional for decimal exponents -4..15, else `d.ddde+XX`. */
  def pyRepr(d: Double): String =
    if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val bd = new java.math.BigDecimal(java.lang.Double.toString(math.abs(d))).stripTrailingZeros
      val digits = bd.unscaledValue.toString
      val exp = digits.length - 1 - bd.scale
      val sign = if (d < 0 || (d == 0 && 1 / d < 0)) "-" else ""
      val body =
        if (exp < -4 || exp >= 16)
          (if (digits.length == 1) digits else digits.head + "." + digits.tail) +
            "e" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
        else if (exp < 0) "0." + "0" * (-exp - 1) + digits
        else if (digits.length <= exp + 1) digits + "0" * (exp + 1 - digits.length) + ".0"
        else digits.substring(0, exp + 1) + "." + digits.substring(exp + 1)
      sign + body
    }

  /** numpy.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True) with a
    * NULL read as NaN, as fuzz_check.py compares a float case. */
  def close(got: Any, want: String): Boolean = {
    val a = got match { case null => Double.NaN; case n: Number => n.doubleValue; case x => x.toString.toDouble }
    val b = want match { case "nan" => Double.NaN; case "inf" => Double.PositiveInfinity
      case "-inf" => Double.NegativeInfinity; case x => x.toDouble }
    if (a.isNaN || b.isNaN) a.isNaN && b.isNaN
    else if (a.isInfinite || b.isInfinite) a == b
    else math.abs(a - b) <= 1e-12 + 1e-9 * math.abs(b)
  }
}
