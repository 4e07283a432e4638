package graft

import graft.sqlfront.ChSql
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Drives ClickHouse-flavoured SQL through the dialect layer and checks
  * results against directly-built DataFrame equivalents. Query shapes
  * modelled on the reference's stateless tests
  * (/root/reference/tests/queries/0_stateless/). */
class ChSqlSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"
  def ch(q: String) = ChSql.sql(spark, sf, q)

  test("count() and toYear alias") {
    val got = ch("SELECT toYear(o_orderdate) AS y, count() AS n FROM orders GROUP BY y ORDER BY y")
      .collect()
    assert(got.nonEmpty && got.forall(_.getLong(1) > 0))
    val direct = graft.core.Tables.t(spark, sf, "orders")
      .groupBy(year(col("o_orderdate")).as("y")).count().orderBy("y").collect()
    assert(got.map(_.getLong(1)).toSeq == direct.map(_.getLong(1)).toSeq)
  }

  test("sumIf / countIf combinators") {
    val r = ch("""SELECT sumIf(l_quantity, l_discount > 0.05) AS s,
                 |countIf(l_quantity > 30) AS c FROM lineitem""".stripMargin).collect()(0)
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val s = li.filter(col("l_discount") > 0.05).agg(sum("l_quantity")).collect()(0).getDouble(0)
    val c = li.filter(col("l_quantity") > 30).count()
    assert(math.abs(r.getDouble(0) - s) < 1e-6 && r.getLong(1) == c)
  }

  test("quantile parameterized syntax") {
    val r = ch("SELECT quantile(0.5)(l_quantity) AS med FROM lineitem").collect()(0)
    assert(r.getDouble(0) > 0)
  }

  test("FINAL and PREWHERE are absorbed") {
    val r = ch("""SELECT count() AS n FROM orders FINAL PREWHERE o_totalprice > 100000""")
      .collect()(0).getLong(0)
    val direct = graft.core.Tables.t(spark, sf, "orders")
      .filter(col("o_totalprice") > 100000).count()
    assert(r == direct)
  }

  test("PREWHERE merges with WHERE") {
    val r = ch("""SELECT count() AS n FROM orders PREWHERE o_totalprice > 100000
                 |WHERE o_orderstatus = 'F'""".stripMargin).collect()(0).getLong(0)
    val direct = graft.core.Tables.t(spark, sf, "orders")
      .filter(col("o_totalprice") > 100000 && col("o_orderstatus") === "F").count()
    assert(r == direct)
  }

  test("LIMIT n BY rewrites to per-group top-n") {
    val df = ch("""SELECT o_custkey, o_orderkey FROM orders
                  |ORDER BY o_custkey, o_orderkey LIMIT 2 BY o_custkey""".stripMargin)
    val over = df.groupBy("o_custkey").count().filter(col("count") > 2).count()
    assert(over == 0 && df.count() > 0)
  }

  test("QUALIFY filters on window alias") {
    val df = ch("""SELECT o_custkey, o_orderkey,
                  |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
                  |FROM orders QUALIFY rn = 1""".stripMargin)
    val n = df.count()
    val users = graft.core.Tables.t(spark, sf, "orders")
      .select(countDistinct(col("o_custkey"))).collect()(0).getLong(0)
    assert(n == users)
  }

  test("array functions: arrayJoin/splitByChar/has") {
    val df = ch("""SELECT doc_id, arrayJoin(splitByChar(' ', text)) AS tok
                  |FROM documents WHERE doc_id < 5""".stripMargin)
    assert(df.count() > 5)
    val df2 = ch("SELECT count() AS n FROM documents WHERE has(splitByChar(' ', text), 'data')")
    assert(df2.collect()(0).getLong(0) > 0)
  }

  test("multiIf becomes CASE chain") {
    val df = ch("""SELECT multiIf(o_totalprice > 300000, 'high',
                  |  o_totalprice > 100000, 'mid', 'low') AS b, count() AS n
                  |FROM orders GROUP BY b ORDER BY b""".stripMargin)
    assert(df.collect().map(_.getString(0)).toSet.subsetOf(Set("high", "mid", "low")))
  }

  test("argMax / groupArray / uniqExact aliases") {
    val r = ch("""SELECT argMax(o_custkey, o_orderkey) AS amax,
                 |  uniqExact(o_orderstatus) AS u FROM orders""".stripMargin).collect()(0)
    assert(r.getLong(1) == 3)
  }

  test("system.numbers virtual table (reference 00002_system_numbers)") {
    assert(ch("SELECT * FROM system.numbers LIMIT 3").count() == 3)
    val r = ch("SELECT number FROM system.numbers WHERE number >= 5 LIMIT 2")
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(5L, 6L))
    assert(ch("SELECT count() AS n FROM (SELECT * FROM system.numbers LIMIT 1000)")
      .collect()(0).getLong(0) == 1000)
  }

  test("arrayJoin over literal array (reference 00008_array_join)") {
    val r = ch("SELECT arrayJoin(array('Hello', 'Goodbye')) AS x")
      .collect().map(_.getString(0)).toSeq
    assert(r == Seq("Hello", "Goodbye"))
  }

  test("array literals rewrite; subscripts untouched (reference 00007_array)") {
    val r = ch("SELECT ['Hello', 'Goodbye'] AS a").collect()(0).getSeq[String](0)
    assert(r == Seq("Hello", "Goodbye"))
    val r2 = ch("SELECT [1, 2, 3][2] AS x").collect()(0)
    assert(r2.getInt(0) == 2)
    val r3 = ch("SELECT arrayJoin(['a', 'b']) AS x FROM system.one").collect().map(_.getString(0))
    assert(r3.toSeq == Seq("a", "b"))
  }

  test("FORMAT clause is stripped (reference 00017 FORMAT JSON)") {
    val r = ch("SELECT count() AS n FROM nation FORMAT JSON").collect()(0).getLong(0)
    assert(r == 25)
  }

  test("ORDER BY WITH FILL generates the gap rows") {
    // reference FillingTransform: TO is EXCLUSIVE and gap rows carry the
    // column DEFAULT (0), not NULL — pinned byte-identical by the
    // 01614_with_fill_with_limit anchor
    val df = ch("""SELECT n_regionkey AS k, count() AS n FROM nation
                  |GROUP BY k ORDER BY k WITH FILL FROM 0 TO 9 STEP 1""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 9)
    assert(rows.map(_.getInt(0)).toSeq == (0 to 8))
    assert(rows.count(r => !r.isNullAt(1) && r.getLong(1) == 0L) == 4)
  }

  test("lambda-first higher-order fns (reference 00022)") {
    val r = ch("SELECT arrayExists(x -> position(x, 'a') > 0, ['a']) AS e").collect()(0)
    assert(r.getBoolean(0))
    val r2 = ch("SELECT arrayMap(x -> x * 2, [1, 2, 3]) AS m").collect()(0).getSeq[Int](0)
    assert(r2 == Seq(2, 4, 6))
    val r3 = ch("SELECT arrayCount(x -> x > 1, [1, 2, 3]) AS c").collect()(0).getInt(0)
    assert(r3 == 2)
  }

  test("ALL INNER JOIN + intDiv (reference 00053_all_inner_join)") {
    val df = ch("""SELECT a.k AS k, b.joined AS joined FROM
                  |( SELECT number AS k FROM system.numbers LIMIT 10 ) AS a
                  |ALL INNER JOIN
                  |( SELECT intDiv(number, 2) AS k, number AS joined
                  |  FROM system.numbers LIMIT 10 ) AS b
                  |ON a.k = b.k ORDER BY k, joined""".stripMargin)
    val rows = df.collect()
    assert(rows.length == 10) // keys 0..4 each match 2 rows
    assert(rows.head.getLong(0) == 0L)
  }

  test("date helpers: toStartOfMonth / dateDiff") {
    val df = ch("""SELECT toStartOfMonth(o_orderdate) AS m, count() AS n
                  |FROM orders GROUP BY m ORDER BY m""".stripMargin)
    assert(df.count() > 12)
  }

  test("dateDiff counts boundary crossings; age counts elapsed units; toUInt8 wraps") {
    val r = ch("""SELECT dateDiff('day', CAST('2024-01-01 23:00:00' AS TIMESTAMP),
                 |    CAST('2024-01-02 01:00:00' AS TIMESTAMP)) AS dd,
                 |  age('day', CAST('2024-01-01 23:00:00' AS TIMESTAMP),
                 |    CAST('2024-01-02 01:00:00' AS TIMESTAMP)) AS ag,
                 |  toUInt8(300) AS w8, toUInt16(70000) AS w16,
                 |  arrayResize([1, 2], 4) AS padded""".stripMargin).collect()(0)
    assert(r.getLong(0) == 1L, "2h across midnight crosses one day boundary")
    assert(r.getLong(1) == 0L, "but zero FULL days elapsed")
    assert(r.getLong(2) == 44L && r.getLong(3) == 4464L, "unsigned casts wrap")
    assert(r.getSeq[Integer](4) == Seq(1, 2, null, null), "2-arg resize extends")
  }

  test("toDayOfWeek is ISO (Monday=1), dateDiff takes a unit literal") {
    // 2024-01-15 was a Monday
    val r = ch("SELECT toDayOfWeek(CAST('2024-01-15' AS DATE)) AS dw, " +
      "dateDiff('day', CAST('2024-01-01' AS DATE), CAST('2024-01-15' AS DATE)) AS dd").collect()(0)
    assert(r.getInt(0) == 1, "Monday must be 1 (ISO)")
    assert(r.getLong(1) == 14L)
  }

  test("positionCaseInsensitive folds case") {
    val r = ch("SELECT positionCaseInsensitive('Hello', 'hello') AS p").collect()(0)
    assert(r.getInt(0) == 1)
  }

  test("multiSearch family + hasToken") {
    val r = ch("""SELECT multiSearchAny('the quick fox', ['cat', 'fox']) AS a,
                 |multiSearchFirstPosition('the quick fox', ['fox', 'quick']) AS p,
                 |multiSearchFirstIndex('the quick fox', ['fox', 'quick']) AS i,
                 |hasToken('a quick fox', 'quick') AS t1,
                 |hasToken('a quickfox', 'quick') AS t2""".stripMargin).collect()(0)
    assert(r.getBoolean(0))
    assert(r.getInt(1) == 5)  // 'quick' at 5 beats 'fox' at 11
    assert(r.getLong(2) == 2) // needle index of 'quick'
    assert(r.getBoolean(3) && !r.getBoolean(4))
  }

  test("ngramDistance: identical 0, disjoint 1") {
    val r = ch("SELECT ngramDistance('abcdef', 'abcdef') AS same, " +
      "ngramDistance('aaaaaa', 'zzzzzz') AS diff").collect()(0)
    assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 1.0)
  }

  test("toStartOfInterval + toStartOfFifteenMinutes") {
    val r = ch("SELECT toStartOfInterval(CAST('2024-01-15 10:37:22' AS TIMESTAMP), INTERVAL 15 MINUTE) AS b, " +
      "toStartOfFifteenMinutes(CAST('2024-01-15 10:37:22' AS TIMESTAMP)) AS b2").collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2024-01-15 10:30:00"))
    assert(r.getTimestamp(0) == r.getTimestamp(1))
  }

  test("parseDateTimeBestEffort picks a working format") {
    val r = ch("SELECT parseDateTimeBestEffort('15/01/2024') AS a, " +
      "parseDateTimeBestEffort('2024-01-15T10:30:00') AS b, " +
      "parseDateTimeBestEffortOrNull('garbage') AS c").collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2024-01-15 00:00"))
    assert(r.getTimestamp(1).toString.startsWith("2024-01-15 10:30"))
    assert(r.isNullAt(2))
  }

  test("UUID/snowflake generation surface") {
    val r = ch("SELECT generateUUIDv4() AS u4, generateUUIDv7() AS u7, " +
      "generateSnowflakeID() AS sf").collect()(0)
    assert(r.getString(0).length == 36)
    assert(r.getString(1).charAt(14) == '7')
    assert(r.getLong(2) > 0)
  }

  test("IPv6 + IPv4 codecs and geohash through the dialect") {
    val r = ch("SELECT IPv6NumToString(IPv6StringToNum('2001:0db8:0:0:0:0:0:1')) AS c, " +
      "IPv4NumToString(IPv4StringToNum('10.1.2.3')) AS v4, " +
      "isIPv4String('10.1.2.3') AS ok4, isIPv6String('::1') AS ok6, " +
      "geohashEncode(-5.60302734375, 42.60498046875, 5) AS gh").collect()(0)
    assert(r.getString(0) == "2001:db8::1")
    assert(r.getString(1) == "10.1.2.3")
    assert(r.getBoolean(2) && r.getBoolean(3))
    assert(r.getString(4) == "ezs42")
  }

  test("array tail: pushBack/popBack/first/avg/hasAll") {
    val r = ch("SELECT arrayPushBack([1, 2], 3) AS pb, arrayPopBack([1, 2, 3]) AS pop, " +
      "arrayFirst(x -> x > 1, [1, 2, 3]) AS f, arrayAvg([1, 2, 3]) AS av, " +
      "hasAll([1, 2, 3], [1, 3]) AS ha, countEqual([1, 2, 1], 1) AS ce").collect()(0)
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[Int](1) == Seq(1, 2))
    assert(r.getInt(2) == 2)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-9)
    assert(r.getBoolean(4) && r.getInt(5) == 2)
  }

  test("bit/math/type templates") {
    val r = ch("SELECT bitAnd(12, 10) AS ba, bitTest(5, 0) AS bt, sqr(7) AS sq, " +
      "intExp2(10) AS e2, toInt16('42') AS i16, toFloat64OrNull('x') AS bad").collect()(0)
    assert(r.getInt(0) == 8 && r.getInt(1) == 1 && r.getInt(2) == 49)
    assert(r.getLong(3) == 1024L && r.getShort(4) == 42)
    assert(r.isNullAt(5))
  }

  test("ORDER BY ... COLLATE maps onto Spark 4 collations") {
    val rows = ch("""SELECT c FROM VALUES ('b'), ('A'), ('a'), ('B') AS t(c)
                    |ORDER BY c COLLATE 'en_ci', c""".stripMargin)
      .collect().map(_.getString(0))
    assert(rows.toSeq == Seq("A", "a", "B", "b"), s"got ${rows.toSeq}")
  }

  test("multiMatchAny regex family") {
    val r = ch("""SELECT multiMatchAny('error: disk full', ['^warn', 'disk [a-z]+$']) AS m,
                 |multiMatchAnyIndex('error: disk full', ['^warn', 'disk [a-z]+$']) AS i,
                 |multiMatchAny('ok', ['^warn', 'disk']) AS n""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getLong(1) == 2 && !r.getBoolean(2))
  }

  test("encrypt/decrypt map onto aes_encrypt/aes_decrypt") {
    // NIST AES-128-ECB vector: K=2b7e...4f3c, P=6bc1...172a, C=3ad7...ef97
    val r = ch("""SELECT hex(encrypt('aes-128-ecb', unhex('6BC1BEE22E409F96E93D7E117393172A'),
                 |  unhex('2B7E151628AED2A6ABF7158809CF4F3C'))) AS c,
                 |CAST(decrypt('aes-128-ecb',
                 |  encrypt('aes-128-ecb', 'round trip', 'sixteen byte key'),
                 |  'sixteen byte key') AS STRING) AS rt,
                 |tryDecrypt('aes-128-ecb', unhex('00'), 'sixteen byte key') AS bad""".stripMargin)
      .collect()(0)
    assert(r.getString(0).startsWith("3AD77BB40D7A3660A89ECAF32466EF97"),
      s"NIST vector mismatch: ${r.getString(0)}")
    assert(r.getString(1) == "round trip")
    assert(r.isNullAt(2))
  }

  test("batch-3 templates: transform/4, dateName, arrayResize, intDivOrZero") {
    val r = ch("""SELECT transform(2, [1, 2, 3], ['a', 'b', 'c'], 'z') AS t4,
                 |transform(9, [1, 2], ['a', 'b'], 'z') AS t4d,
                 |arrayMap(x -> x * 2, [1, 2]) AS hof,
                 |dateName('weekday', CAST('2024-01-15' AS DATE)) AS dn,
                 |arrayResize([1, 2, 3], 2) AS shrink,
                 |arrayResize([1, 2], 4, 0) AS grow,
                 |intDivOrZero(7, 0) AS dz,
                 |timeDiff(CAST('2024-01-15 10:00:00' AS TIMESTAMP),
                 |  CAST('2024-01-15 10:01:30' AS TIMESTAMP)) AS td""".stripMargin).collect()(0)
    assert(r.getString(0) == "b" && r.getString(1) == "z")
    assert(r.getSeq[Int](2) == Seq(2, 4))
    assert(r.getString(3) == "Monday")
    assert(r.getSeq[Int](4) == Seq(1, 2))
    assert(r.getSeq[Int](5) == Seq(1, 2, 0, 0))
    assert(r.getLong(6) == 0L)
    assert(r.getLong(7) == 90L)
  }

  test("batch-4 templates: maps, rotates, shingles, clamp, intervals") {
    val r = ch("""SELECT mapAdd(map('a', 1, 'b', 2), map('b', 10)) AS ma,
                 |mapSubtract(map('a', 5), map('a', 2)) AS ms,
                 |mapFilter((k, v) -> v > 1, map('a', 1, 'b', 2)) AS mf,
                 |mapExists((k, v) -> v > 10, map('a', 1)) AS me,
                 |arrayRotateLeft([1, 2, 3, 4, 5], 2) AS rl,
                 |arrayRotateRight([1, 2, 3, 4, 5], 2) AS rr,
                 |arrayShingles([1, 2, 3, 4], 3) AS sh,
                 |clamp(17, 1, 10) AS cl,
                 |char(72, 105) AS ch2,
                 |bitRotateLeft(1, 63) AS brl""".stripMargin).collect()(0)
    assert(r.getMap[String, Int](0) == Map("a" -> 1, "b" -> 12))
    assert(r.getMap[String, Int](1) == Map("a" -> 3))
    assert(r.getMap[String, Int](2) == Map("b" -> 2))
    assert(!r.getBoolean(3))
    assert(r.getSeq[Int](4) == Seq(3, 4, 5, 1, 2))
    assert(r.getSeq[Int](5) == Seq(4, 5, 1, 2, 3))
    assert(r.getSeq[Seq[Int]](6) == Seq(Seq(1, 2, 3), Seq(2, 3, 4)))
    assert(r.getInt(7) == 10)
    assert(r.getString(8) == "Hi")
    assert(r.getLong(9) == Long.MinValue)
  }

  test("batch-4 templates: dates, json, url, quantile variants") {
    val r = ch("""SELECT addQuarters(CAST('2024-01-15' AS DATE), 2) AS aq,
                 |addMilliseconds(CAST('2024-01-15 00:00:00' AS TIMESTAMP), 1500) AS ams,
                 |toRelativeHourNum(CAST('1970-01-02 01:00:00' AS TIMESTAMP)) AS rh,
                 |toTime(CAST('2024-03-05 07:08:09' AS TIMESTAMP)) AS tt,
                 |CAST('2024-01-01 00:00:00' AS TIMESTAMP) + toIntervalDay(3) AS ivd,
                 |simpleJSONExtractString('{"k": "v"}', 'k') AS js,
                 |simpleJSONExtractInt('{"n": 42}', 'n') AS jn,
                 |port('https://example.com:8443/x') AS pt,
                 |cutFragment('http://a/b#frag') AS cf,
                 |cutWWW('https://www.example.com/p') AS cw,
                 |normalizeQuery('SELECT 12 FROM t WHERE s = ''x''') AS nq,
                 |quantilesExact(0.0, 1.0)(l_quantity) AS qs,
                 |quantileTDigest(0.5)(l_quantity) AS qtd,
                 |soundex('Robert') AS sx,
                 |toValidUTF8('ok') AS vu
                 |FROM lineitem""".stripMargin).collect()(0)
    assert(r.getDate(0).toString == "2024-07-15")
    assert(r.getTimestamp(1).toString.startsWith("2024-01-15 00:00:01.5"))
    assert(r.getLong(2) == 25L)
    assert(r.getTimestamp(3).toString.startsWith("1970-01-02 07:08:09"))
    assert(r.getTimestamp(4).toString.startsWith("2024-01-04"))
    assert(r.getString(5) == "v" && r.getLong(6) == 42L)
    assert(r.getInt(7) == 8443)
    assert(r.getString(8) == "http://a/b")
    assert(r.getString(9) == "https://example.com/p")
    assert(r.getString(10) == "SELECT ? FROM t WHERE s = ?")
    assert(r.getSeq[Double](11).head >= 1.0 && r.getSeq[Double](11).last >= 40.0)
    assert(r.getDouble(12) > 0)
    assert(r.getString(13) == "R163")
    assert(r.getString(14) == "ok")
  }

  test("string distance dialect names map onto the distance kernels") {
    val r = ch("""SELECT damerauLevenshteinDistance('ca', 'abc') AS dl,
                 |jaroSimilarity('martha', 'marhta') AS j,
                 |jaroWinklerSimilarity('martha', 'marhta') AS jw,
                 |byteHammingDistance('abcd', 'abcf') AS bh,
                 |stringJaccardIndex('abc', 'abd') AS sj,
                 |editDistance('kitten', 'sitting') AS ed
                 |FROM lineitem LIMIT 1""".stripMargin).collect()(0)
    assert(r.getInt(0) == 2)
    assert(math.abs(r.getDouble(1) - 17.0 / 18) < 1e-12)
    assert(math.abs(r.getDouble(2) - (17.0 / 18 + 0.3 * (1 - 17.0 / 18))) < 1e-12)
    assert(r.getInt(3) == 1)
    assert(r.getDouble(4) == 0.5)
    assert(r.getInt(5) == 3)
  }

  test("batch-10 names: subsequence, extractGroups, array shifts, decimal string, html") {
    val r = ch("""SELECT hasSubsequence('garbage', 'gbg') AS hs,
                 |hasSubsequence('garbage', 'gbx') AS hs0,
                 |hasSubsequenceCaseInsensitive('Garbage', 'gAr') AS hsci,
                 |extractGroups('key=value pairs', '(\\w+)=(\\w+)') AS eg,
                 |extractGroups('no match here', '(\\d+)-(\\d+)') AS eg0,
                 |arrayShiftLeft(array(1, 2, 3, 4, 5), 2) AS sl,
                 |arrayShiftRight(array(1, 2, 3, 4, 5), 2, 0) AS sr,
                 |toDecimalString(3.14159, 2) AS ds,
                 |widthBucket(7.0, 0.0, 10.0, 5) AS wb,
                 |extractTextFromHTML('<p>hi <b>there</b></p><script>x</script>') AS ht
                 |FROM lineitem LIMIT 1""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && r.getBoolean(2))
    assert(r.getSeq[String](3) == Seq("key", "value"))
    assert(r.getSeq[String](4) == Seq.empty)
    assert(r.getSeq[Any](5) == Seq(3, 4, 5, null, null))
    assert(r.getSeq[Any](6) == Seq(0, 0, 1, 2, 3))
    assert(r.getString(7) == "3.14")
    assert(r.getLong(8) == 4L)
    assert(r.getString(9) == "hi there")
  }

  test("distinct/if combinators, quantileDeterministic, uniqTheta sketch") {
    val r = ch("""SELECT sumDistinct(l_linenumber) AS sd,
                 |countDistinct(l_returnflag, l_linestatus) AS cd,
                 |argMinIf(l_orderkey, l_quantity, l_quantity > 10) AS ami,
                 |quantileDeterministic(0.5)(l_quantity, l_orderkey) AS qd,
                 |uniqTheta(l_orderkey) AS ut
                 |FROM lineitem""".stripMargin).collect()(0)
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val sd = li.select(col("l_linenumber")).distinct()
      .agg(sum("l_linenumber")).collect()(0).getLong(0)
    assert(r.getLong(0) == sd)
    val cd = li.select("l_returnflag", "l_linestatus").distinct().count()
    assert(r.getLong(1) == cd)
    // min_by ties are arbitrary among rows sharing the min quantity — the
    // result must be one of the orderkeys at the predicate-filtered min
    val amiQty = li.filter(col("l_quantity") > 10)
      .agg(min("l_quantity")).collect()(0).getDouble(0)
    val candidates = li.filter(col("l_quantity") === amiQty)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    assert(candidates.contains(r.getLong(2)), s"argMinIf ${r.getLong(2)} not at min qty $amiQty")
    assert(r.getDouble(3) > 0)
    val exact = li.select("l_orderkey").distinct().count()
    assert(math.abs(r.getLong(4) - exact).toDouble / exact < 0.1,
      s"uniqTheta ${r.getLong(4)} vs exact $exact")
  }

  test("DDL surface: CREATE TABLE AS / MATERIALIZED VIEW / INSERT / DROP") {
    ch("""CREATE TABLE t_sess ENGINE = MergeTree ORDER BY o_orderkey AS
         |SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000""".stripMargin)
    val n0 = ch("SELECT count() AS n FROM t_sess").collect()(0).getLong(0)
    assert(n0 > 0)
    ch("INSERT INTO t_sess SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 100000")
    val total = graft.core.Tables.t(spark, sf, "orders").count()
    assert(ch("SELECT count() AS n FROM t_sess").collect()(0).getLong(0) == total)
    ch("INSERT INTO t_sess VALUES (999999, 1.5), (999998, 2.5)")
    assert(ch("SELECT count() AS n FROM t_sess").collect()(0).getLong(0) == total + 2)
    assert(ch("SELECT o_totalprice AS p FROM t_sess WHERE o_orderkey = 999999")
      .collect()(0).getDouble(0) == 1.5)
    // without POPULATE an MV starts EMPTY (only later inserts flow in) —
    // POPULATE computes the backfill at create
    ch("""CREATE MATERIALIZED VIEW mv_empty AS
         |SELECT count() AS n FROM t_sess""".stripMargin)
    assert(ch("SELECT count() AS c FROM mv_empty").collect()(0).getLong(0) == 0L)
    ch("DROP VIEW mv_empty")
    ch("""CREATE MATERIALIZED VIEW mv_sess POPULATE AS
         |SELECT count() AS n FROM t_sess""".stripMargin)
    assert(ch("SELECT n FROM mv_sess").collect()(0).getLong(0) == total + 2)
    ch("DROP TABLE t_sess")
    assert(!spark.catalog.tableExists("t_sess"))
    ch("DROP VIEW mv_sess")
  }

  test("ALTER TABLE UPDATE/DELETE, TRUNCATE, OPTIMIZE on session tables") {
    ch("CREATE TABLE t_mut AS SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders")
    val total = graft.core.Tables.t(spark, sf, "orders").count()
    ch("ALTER TABLE t_mut DELETE WHERE o_totalprice < 50000")
    val kept = ch("SELECT count() AS n FROM t_mut").collect()(0).getLong(0)
    val expectKept = graft.core.Tables.t(spark, sf, "orders")
      .filter(col("o_totalprice") >= 50000).count()
    assert(kept == expectKept && kept < total)
    ch("ALTER TABLE t_mut UPDATE o_orderstatus = 'X', o_totalprice = o_totalprice * 2 WHERE o_orderkey % 2 = 0")
    val r = ch("""SELECT countIf(o_orderstatus = 'X') AS x,
                 |countIf(o_orderkey % 2 = 0) AS even FROM t_mut""".stripMargin).collect()(0)
    assert(r.getLong(0) == r.getLong(1) && r.getLong(0) > 0)
    ch("OPTIMIZE TABLE t_mut FINAL")
    assert(ch("SELECT count() AS n FROM t_mut").collect()(0).getLong(0) == kept)
    ch("TRUNCATE TABLE t_mut")
    assert(ch("SELECT count() AS n FROM t_mut").collect()(0).getLong(0) == 0L)
    ch("DROP TABLE t_mut")
  }

  test("ALTER ADD/DROP/RENAME COLUMN and RENAME TABLE on session tables") {
    ch("CREATE TABLE t_ddl AS SELECT n_nationkey, n_name FROM nation")
    ch("ALTER TABLE t_ddl ADD COLUMN score Float64 DEFAULT n_nationkey * 2 + 1")
    val r = ch("SELECT max(score) AS m FROM t_ddl").collect()(0)
    assert(r.getAs[Number](0).longValue == 49L) // 24 * 2 + 1
    // a non-Nullable String column fills with the TYPE default ''
    ch("ALTER TABLE t_ddl ADD COLUMN tag String")
    assert(ch("SELECT countIf(tag = '') AS n FROM t_ddl")
      .collect()(0).getLong(0) == 25L)
    // a Nullable column fills with NULL
    ch("ALTER TABLE t_ddl ADD COLUMN ntag Nullable(String)")
    assert(ch("SELECT countIf(ntag IS NULL) AS n FROM t_ddl")
      .collect()(0).getLong(0) == 25L)
    ch("ALTER TABLE t_ddl DROP COLUMN ntag")
    ch("ALTER TABLE t_ddl RENAME COLUMN score TO points")
    assert(ch("SELECT sum(points) AS s FROM t_ddl").collect()(0)
      .getAs[Number](0).longValue == (0 until 25).map(k => k * 2 + 1).sum)
    ch("ALTER TABLE t_ddl DROP COLUMN tag")
    assert(!ch("SELECT * FROM t_ddl").columns.contains("tag"))
    ch("ALTER TABLE t_ddl MODIFY COLUMN points Float64")
    assert(ch("SELECT * FROM t_ddl").schema("points").dataType ==
      org.apache.spark.sql.types.DoubleType)
    // CLEAR COLUMN resets to the column's DEFAULT (type default 0 here)
    ch("ALTER TABLE t_ddl CLEAR COLUMN points")
    assert(ch("SELECT countIf(points = 0) AS n FROM t_ddl")
      .collect()(0).getLong(0) == 25L)
    ch("ALTER TABLE t_ddl COMMENT COLUMN points 'scored'") // metadata no-op
    ch("RENAME TABLE t_ddl TO t_ddl2")
    assert(ch("SELECT count() AS n FROM t_ddl2").collect()(0).getLong(0) == 25L)
    assert(!spark.catalog.tableExists("t_ddl"))
    ch("DROP TABLE t_ddl2")
  }

  test("toDateTime(x, 'tz'): second arg is a timezone, value is the instant") {
    val r = ch("""SELECT toDateTime(0, 'UTC') AS a,
                 |toDateTime(86400, 'UTC') AS b,
                 |toDateTime('2020-06-01 12:00:00', 'UTC') AS c""".stripMargin).collect()(0)
    assert(r.getTimestamp(0).toInstant.getEpochSecond == 0L)
    assert(r.getTimestamp(1).toInstant.getEpochSecond == 86400L)
    assert(r.getTimestamp(2).toInstant.toString.startsWith("2020-06-01T12:00:00"))
  }

  test("DateTime +- Int arithmetic means seconds (resolution rule)") {
    val r = ch("""SELECT toDateTime(100, 'UTC') + 60 AS a,
                 |5 + toDateTime(100, 'UTC') AS b,
                 |toDateTime(100, 'UTC') - 40 AS c""".stripMargin).collect()(0)
    assert(r.getTimestamp(0).toInstant.getEpochSecond == 160L)
    assert(r.getTimestamp(1).toInstant.getEpochSecond == 105L)
    assert(r.getTimestamp(2).toInstant.getEpochSecond == 60L)
    // Date + Int stays days (Spark-native, same as the reference)
    assert(ch("SELECT toDate('2020-01-01') + 31 AS d").collect()(0)
      .getDate(0).toString == "2020-02-01")
  }

  test("positional tuple access: x.1 / tupleElement(x, N) by ordinal") {
    // mixed-name struct: positional access must ignore field names
    // (reference 00027_argMinMax shape)
    val r = ch("""SELECT argMin(x.1, x.2) AS a, argMax(x.1, x.2) AS b
                 |FROM (SELECT (number, number + 1) AS x FROM numbers(10))""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 9L)
    val s = ch("SELECT tupleElement((7, 'x', 9), 3) AS e").collect()(0)
    assert(s.getAs[Number](0).intValue == 9)
  }

  test("SAMPLE clause and two-argument CAST spelling") {
    // fraction -> Bernoulli bucket sample: nondeterministic size, bounded
    val n = ch("SELECT count() AS n FROM lineitem SAMPLE 0.5").collect()(0).getLong(0)
    val total = ch("SELECT count() AS n FROM lineitem").collect()(0).getLong(0)
    assert(n > total / 4 && n < total * 3 / 4, s"sample $n of $total")
    // integer -> row bound (exact)
    assert(ch("SELECT count() AS n FROM lineitem SAMPLE 1000")
      .collect()(0).getLong(0) == 1000L)
    assert(ch("SELECT CAST('42', 'Int64') + 1 AS x").collect()(0).getLong(0) == 43L)
    assert(ch("SELECT CAST(300, 'UInt8') AS x").collect()(0).getLong(0) == 44L)
  }

  test("view()/numbers() table functions, :: casts, EXCEPT regex/APPLY chains") {
    assert(ch("SELECT count() AS n FROM view(SELECT n_nationkey FROM nation WHERE n_nationkey < 5)")
      .collect()(0).getLong(0) == 5L)
    val nb = ch("SELECT min(number) AS a, max(number) AS b, count() AS n FROM numbers(10, 20)").collect()(0)
    assert(nb.getLong(0) == 10L && nb.getLong(1) == 29L && nb.getLong(2) == 20L)
    assert(ch("SELECT count() AS n FROM numbers(7)").collect()(0).getLong(0) == 7L)
    // :: postfix cast routes through the to<Type> templates (CH wrapping)
    assert(ch("SELECT '5'::Int64 + 1 AS x").collect()(0).getLong(0) == 6L)
    assert(ch("SELECT 300::UInt8 AS x").collect()(0).getLong(0) == 44L)
    assert(ch("SELECT (2 + 3)::Float64 / 2 AS x").collect()(0).getDouble(0) == 2.5)
    // :: inside string literals is untouched (IPv6-style text)
    assert(ch("SELECT length('a::ffff:b') AS n").collect()(0).getAs[Number](0).intValue == 9)
    // EXCEPT regex form and EXCEPT+APPLY chaining expand against the schema
    val er = ch("SELECT * EXCEPT ('n_n.*') FROM nation LIMIT 1")
    assert(!er.columns.contains("n_nationkey") && !er.columns.contains("n_name"))
    val ea = ch("SELECT * EXCEPT (n_name) APPLY (max) FROM nation")
    assert(ea.columns.toSet == Set("max(n_nationkey)", "max(n_regionkey)"))
  }

  test("-State/-Merge two-level aggregation: algebraic, count, avg, exact, KMV uniq") {
    // level 1 per region, level 2 merged across regions == direct aggregate
    val direct = ch("""SELECT count() AS c, sum(o_totalprice) AS s,
                      |toInt64(floor(avg(o_totalprice))) AS a,
                      |uniqExact(o_custkey) AS ue, uniqTheta(o_custkey) AS u
                      |FROM orders WHERE o_orderkey < 4000""".stripMargin).collect()(0)
    val merged = ch(
      """SELECT countMerge(cs) AS c, sumMerge(ss) AS s,
        |  toInt64(floor(avgMerge(avs))) AS a,
        |  uniqExactMerge(ues) AS ue, uniqMerge(us) AS u
        |FROM (
        |  SELECT o_orderkey % 7 AS shard,
        |    countState() AS cs, sumState(o_totalprice) AS ss,
        |    avgState(o_totalprice) AS avs,
        |    uniqExactState(o_custkey) AS ues, uniqState(o_custkey) AS us
        |  FROM orders WHERE o_orderkey < 4000 GROUP BY shard)""".stripMargin)
      .collect()(0)
    assert(merged.getLong(0) == direct.getLong(0))
    assert(math.abs(merged.getDouble(1) - direct.getDouble(1)) < 1e-6)
    assert(merged.getLong(2) == direct.getLong(2))
    assert(merged.getLong(3) == direct.getLong(3))
    assert(merged.getLong(4) == direct.getLong(4), "KMV state merge must equal one-level uniqTheta")
    // groupArrayMerge flattens the per-shard arrays
    val ga = ch(
      """SELECT size(groupArrayMerge(g)) AS n FROM (
        |  SELECT n_regionkey, groupArrayState(n_nationkey) AS g
        |  FROM nation GROUP BY n_regionkey)""".stripMargin).collect()(0)
    assert(ga.getInt(0) == 25)
  }

  test("INTO OUTFILE writes through the DataFrame sinks; untuple expands") {
    val path = java.nio.file.Files.createTempDirectory("graft_outfile").toString
    try {
      ch(s"SELECT n_nationkey, n_name FROM nation INTO OUTFILE '$path/t1' FORMAT CSVWithNames")
      val back = spark.read.option("header", "true").csv(s"$path/t1")
      assert(back.count() == 25 && back.columns.toSeq == Seq("n_nationkey", "n_name"))
      ch(s"SELECT n_name FROM nation INTO OUTFILE '$path/t2'") // TabSeparated default
      assert(spark.read.text(s"$path/t2").count() == 25)
      ch(s"SELECT n_nationkey AS k FROM nation INTO OUTFILE '$path/t3' FORMAT JSONEachRow")
      assert(spark.read.json(s"$path/t3").count() == 25)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    }
    val u = ch("SELECT untuple(tuple(7, 'x')) FROM system.one").collect()(0)
    assert(u.getInt(0) == 7 && u.getString(1) == "x")
  }

  test("SQL ASOF JOIN matches the API-level Ops.asofJoin (backward)") {
    import org.apache.spark.sql.functions._
    // SQL spelling: latest click at-or-before each purchase, per user
    val sqlSide = ch(
      """SELECT count() AS n, sum(toInt64(floor(e2.value * 100))) AS s
        |FROM events e ASOF LEFT JOIN events e2
        |  ON e.user_id = e2.user_id AND e.ts >= e2.ts
        |WHERE e.event_id < 200""".stripMargin).collect()(0)
    // API path: self-asof with identical semantics. The right side must
    // be unique per (user, ts) for the determinism contract — events has
    // at most one row per (user_id, ts) in the fixture for ts-distinct
    // rows, and the at-or-equal self-match makes every left row match
    // itself, so both formulations pick the same rows.
    val e = graft.core.Tables.t(spark, sf, "events")
    val left = e.filter(col("event_id") < 200)
      .select(col("user_id"), col("ts"), col("event_id"))
    val right = e.select(col("user_id"), col("ts").as("rts"), col("value"))
    val api = graft.ops.Ops.asofJoin(left, right, Seq("user_id"),
      col("ts"), col("rts"), "backward")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("s")).collect()(0)
    assert(sqlSide.getLong(0) == api.getLong(0))
    assert(sqlSide.getLong(1) == api.getLong(1))
  }

  test("scalar WITH aliases: literals, expressions, scalar subqueries, mixed CTEs") {
    assert(ch("WITH 5 AS x SELECT x + 1 AS y").collect()(0).getAs[Number](0).intValue == 6)
    val r = ch("""WITH n_nationkey * 2 AS dbl
                 |SELECT n_name, dbl FROM nation ORDER BY n_nationkey LIMIT 2""".stripMargin)
      .collect()
    assert(r.map(_.getAs[Number](1).longValue).toSeq == Seq(0L, 2L))
    // scalar subquery alias, used twice
    val m = ch("""WITH (SELECT max(n_nationkey) FROM nation) AS mx
                 |SELECT count() AS n FROM nation WHERE n_nationkey > mx - 3 AND n_nationkey <= mx""".stripMargin)
      .collect()(0).getLong(0)
    assert(m == 3L)
    // aliases chaining + a real CTE in the same WITH list
    val c = ch("""WITH 10 AS base, base * 2 AS dbl,
                 |top AS (SELECT n_nationkey FROM nation WHERE n_nationkey < 5)
                 |SELECT count() AS n, max(dbl) AS d FROM top""".stripMargin).collect()(0)
    assert(c.getLong(0) == 5L && c.getAs[Number](1).intValue == 20)
  }

  test("scalar WITH substitution equals manual inlining (randomized)") {
    val rnd = new scala.util.Random(7L)
    def expr(depth: Int): String =
      if (depth <= 0)
        Seq("n_nationkey", "n_regionkey", "3", "7")(rnd.nextInt(4))
      else Seq(
        s"(${expr(depth - 1)} + ${expr(depth - 1)})",
        s"(${expr(depth - 1)} * ${expr(depth - 1)})",
        s"greatest(${expr(depth - 1)}, ${expr(depth - 1)})",
        s"(${expr(depth - 1)} % 11)")(rnd.nextInt(4))
    for (_ <- 1 to 40) {
      val e = expr(2)
      val via = ch(s"WITH $e AS v SELECT sum(v + v * 2) AS s FROM nation")
        .collect()(0).getAs[Number](0).longValue
      val manual = ch(s"SELECT sum(($e) + ($e) * 2) AS s FROM nation")
        .collect()(0).getAs[Number](0).longValue
      assert(via == manual, s"WITH substitution diverged for: $e")
    }
  }

  test("TTL expression drops expired rows at OPTIMIZE, survives RENAME") {
    ch("""CREATE TABLE t_ttl ENGINE = MergeTree ORDER BY o_orderkey
         |TTL toDateTime(o_orderdate) + INTERVAL 30 YEAR
         |AS SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey < 2000""".stripMargin)
    val before = ch("SELECT count() AS n FROM t_ttl").collect()(0).getLong(0)
    // expected survivors: order date + 30y still in the future
    val expected = ch(
      """SELECT count() AS n FROM orders
        |WHERE o_orderkey < 2000 AND toDateTime(o_orderdate) + INTERVAL 30 YEAR > now()""".stripMargin)
      .collect()(0).getLong(0)
    assert(expected > 0 && expected < before, "fixture must straddle the TTL horizon")
    ch("OPTIMIZE TABLE t_ttl FINAL")
    assert(ch("SELECT count() AS n FROM t_ttl").collect()(0).getLong(0) == expected)
    // TTL follows RENAME; re-OPTIMIZE is idempotent
    ch("RENAME TABLE t_ttl TO t_ttl2")
    ch("OPTIMIZE TABLE t_ttl2 FINAL")
    assert(ch("SELECT count() AS n FROM t_ttl2").collect()(0).getLong(0) == expected)
    ch("DROP TABLE t_ttl2")
  }

  test("column transformers: * REPLACE, * APPLY, COLUMNS('regex')") {
    // REPLACE keeps column order and swaps the expression in place
    val r = ch("SELECT * REPLACE (n_nationkey * 100 AS n_nationkey) FROM nation ORDER BY n_nationkey LIMIT 2")
    assert(r.columns.head == "n_nationkey")
    assert(r.collect().map(_.getAs[Number](0).longValue).toSeq == Seq(0L, 100L))
    // APPLY wraps every column; the alias carries the function name
    val a = ch("SELECT * APPLY (max) FROM region")
    assert(a.columns.forall(_.startsWith("max(")))
    assert(a.count() == 1)
    // COLUMNS('regex') expands to the matching subset, APPLY composes
    val c = ch("SELECT COLUMNS('n_n.*') FROM nation LIMIT 1")
    assert(c.columns.toSet == Set("n_nationkey", "n_name"))
    val ca = ch("SELECT max(n_regionkey) AS m, count() AS n FROM nation")
    assert(ca.collect()(0).getAs[Number](0).longValue == 4L)
  }

  test("SHOW TABLES / DESCRIBE / SHOW CREATE / EXISTS introspection") {
    // r14: SHOW TABLES lists the session's OWN tables (the reference's
    // per-test database view) — fixture views are excluded; LIMIT takes
    // constant expressions (01012)
    ch("CREATE TABLE show_t1 (a Int64) ENGINE = Memory")
    ch("CREATE TABLE show_t2 (a Int64) ENGINE = Memory")
    val names = ch("SHOW TABLES").collect().map(_.getString(0)).toSet
    assert(Set("show_t1", "show_t2").subsetOf(names))
    assert(!names.contains("nation") && !names.contains("lineitem"))
    val liked = ch("SHOW TABLES LIKE 'show_t%'").collect().map(_.getString(0)).toSet
    assert(liked == Set("show_t1", "show_t2"))
    val limited = ch("SHOW TABLES LIKE 'show_t%' LIMIT 1 * 1").collect()
    assert(limited.length == 1)
    ch("DROP TABLE show_t1"); ch("DROP TABLE show_t2")
    val desc = ch("DESCRIBE TABLE nation").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("n_name") == "String")
    assert(desc("n_nationkey").startsWith("Int"))
    // r16: the canonical reconstruction qualifies with `default.` and
    // reads declared metadata (parquet fixtures fall back to the Spark
    // schema + Memory engine)
    val stmt = ch("SHOW CREATE TABLE region").collect()(0).getString(0)
    assert(stmt.startsWith("CREATE TABLE default.region\n(\n    `r_regionkey`"))
    assert(stmt.endsWith("ENGINE = Memory"))
    assert(ch("EXISTS TABLE nation").collect()(0).getInt(0) == 1)
    assert(ch("EXISTS TABLE no_such_tbl").collect()(0).getInt(0) == 0)
  }

  test("system.tables / system.columns introspection") {
    val tables = ch("SELECT name FROM system.tables ORDER BY name")
      .collect().map(_.getString(0)).toSet
    assert(Set("nation", "region", "customer", "lineitem").subsetOf(tables))
    val cols = ch("""SELECT name, position, type FROM system.columns
                    |WHERE table = 'nation' ORDER BY position""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(cols.head == ("n_nationkey", 1))
    assert(cols.map(_._1).contains("n_name"))
    val n = ch("SELECT count() AS n FROM system.columns WHERE table = 'region'")
      .collect()(0).getLong(0)
    assert(n >= 2)
  }

  test("OPTIMIZE TABLE ... DEDUPLICATE [BY cols] drops duplicate rows") {
    // full-row dedup: union the table with itself, OPTIMIZE restores it
    ch("CREATE TABLE t_dd AS SELECT n_nationkey, n_regionkey FROM nation UNION ALL SELECT n_nationkey, n_regionkey FROM nation")
    assert(ch("SELECT count() AS n FROM t_dd").collect()(0).getLong(0) == 50L)
    ch("OPTIMIZE TABLE t_dd FINAL DEDUPLICATE")
    assert(ch("SELECT count() AS n FROM t_dd").collect()(0).getLong(0) == 25L)
    // keyed dedup: one row per n_regionkey survives
    ch("OPTIMIZE TABLE t_dd DEDUPLICATE BY n_regionkey")
    assert(ch("SELECT count() AS n FROM t_dd").collect()(0).getLong(0) == 5L)
    assert(ch("SELECT count(DISTINCT n_regionkey) AS n FROM t_dd")
      .collect()(0).getLong(0) == 5L)
    ch("DROP TABLE t_dd")
  }

  test("batch-11 names: erf, byteSwap, MJD, changeDate, XML codec, base64URL, bar") {
    val r = ch("""SELECT round(erf(1.0), 5) AS e1, round(erfc(1.0), 5) AS ec1,
                 |erf(0.0) AS e0,
                 |byteSwap(1) AS bs,
                 |toModifiedJulianDay(DATE'1858-11-17') AS mjd0,
                 |toModifiedJulianDay(DATE'2024-01-01') AS mjd,
                 |fromModifiedJulianDay(60310) AS d,
                 |changeYear(DATE'2024-03-15', 2020) AS cy,
                 |changeMonth(DATE'2024-03-15', 7) AS cm,
                 |countDigits(12345) AS cd, countDigits(0) AS cd0,
                 |encodeXMLComponent('a<b & "c"') AS ex,
                 |decodeXMLComponent('a&lt;b &amp; &quot;c&quot;') AS dx,
                 |base64URLDecode(base64URLEncode('graft?engine>v1')) AS rt,
                 |bar(15, 0, 20, 10) AS br
                 |FROM system.one""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 0.8427) < 2e-4) // A&S approx, |err|<1.5e-7... rounded
    assert(math.abs(r.getDouble(0) + r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getDouble(2) == 0.0)
    assert(r.getLong(3) == 72057594037927936L) // 1L << 56
    assert(r.getInt(4) == 0 && r.getInt(5) == 60310)
    assert(r.getDate(6).toString == "2024-01-01")
    assert(r.getDate(7).toString == "2020-03-15")
    assert(r.getDate(8).toString == "2024-07-15")
    assert(r.getInt(9) == 5 && r.getInt(10) == 1)
    assert(r.getString(11) == "a&lt;b &amp; &quot;c&quot;")
    assert(r.getString(12) == "a<b & \"c\"")
    assert(r.getString(13) == "graft?engine>v1")
    assert(r.getString(14) == "█" * 7) // floor(15*10/20)
    val kv = ch("SELECT extractKeyValuePairs('name:neo, role:the one') AS m FROM system.one")
      .collect()(0).getMap[String, String](0)
    assert(kv("name") == "neo" && kv("role") == "the one")
  }

  test("GROUP BY WITH TOTALS adds the grand-total row") {
    val rows = ch("""SELECT l_returnflag, sum(l_quantity) AS s
                    |FROM lineitem GROUP BY l_returnflag WITH TOTALS""".stripMargin)
      .collect()
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val flags = li.select("l_returnflag").distinct().count()
    assert(rows.length == flags + 1)
    val total = li.agg(sum("l_quantity")).collect()(0).getDouble(0)
    val totalsRow = rows.filter(_.isNullAt(0))
    assert(totalsRow.length == 1 && math.abs(totalsRow(0).getDouble(1) - total) < 1e-6)
  }

  test("EXPLAIN SYNTAX returns the rewritten SQL; EXPLAIN returns the plan") {
    val syn = ch("EXPLAIN SYNTAX SELECT toYear(o_orderdate) AS y, count() AS n FROM orders GROUP BY y")
      .collect()(0).getString(0)
    assert(syn.contains("year(") && syn.contains("count(*)"), syn)
    val plan = ch("EXPLAIN SELECT count() AS n FROM orders").collect()(0).getString(0)
    assert(plan.contains("Physical Plan"), plan.take(200))
  }

  test("vector distance dialect names map onto the codegen kernels") {
    val r = ch("""SELECT L2Distance([1.0, 2.0], [4.0, 6.0]) AS l2,
                 |L1Distance([1.0, 2.0], [4.0, 6.0]) AS l1,
                 |LinfDistance([1.0, 2.0], [4.0, 6.0]) AS linf,
                 |L2SquaredDistance([0.0], [3.0]) AS l2s,
                 |L2Norm([3.0, 4.0]) AS n2,
                 |L1Norm([-3.0, 4.0]) AS n1,
                 |arrayDotProduct([1.0, 2.0], [3.0, 4.0]) AS dp,
                 |cosineDistance([1.0, 0.0], [1.0, 0.0]) AS cd,
                 |arrayJaccardIndex([1, 2, 3], [2, 3, 4]) AS jc""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 5.0 && r.getDouble(1) == 7.0 && r.getDouble(2) == 4.0)
    assert(r.getDouble(3) == 9.0 && r.getDouble(4) == 5.0 && r.getDouble(5) == 7.0)
    assert(r.getDouble(6) == 11.0 && math.abs(r.getDouble(7)) < 1e-12)
    assert(r.getDouble(8) == 0.5)
  }

  test("batch-5 templates: map transforms, array diffs, date starts") {
    val r = ch("""SELECT mapApply((k, v) -> (k, v * 2), map('a', 1, 'b', 2)) AS ma,
                 |mapUpdate(map('a', 1, 'b', 2), map('b', 9, 'c', 3)) AS mu,
                 |mapPopulateSeries(map(1, 10, 4, 40)) AS mp,
                 |arrayDifference([1, 4, 9, 16]) AS ad,
                 |arrayEnumerateDense([30, 10, 30, 20]) AS ae,
                 |arrayReduce('max', [3, 7, 2]) AS arx,
                 |arrayReduce('uniq', [1, 1, 2]) AS aru,
                 |toStartOfDay(CAST('2024-03-05 07:08:09' AS TIMESTAMP)) AS sd,
                 |toStartOfWeek(CAST('2024-03-05' AS DATE)) AS sw,
                 |toStartOfQuarter(CAST('2024-05-20' AS DATE)) AS sq,
                 |tupleElement(tuple(7, 'x'), 2) AS te,
                 |round(e(), 6) AS ee""".stripMargin).collect()(0)
    assert(r.getMap[String, Int](0) == Map("a" -> 2, "b" -> 4))
    assert(r.getMap[String, Int](1) == Map("a" -> 1, "b" -> 9, "c" -> 3))
    assert(r.getMap[Int, Int](2) == Map(1 -> 10, 2 -> 0, 3 -> 0, 4 -> 40))
    assert(r.getSeq[Int](3) == Seq(0, 3, 5, 7))
    assert(r.getSeq[Long](4) == Seq(1L, 2L, 1L, 3L))
    assert(r.getInt(5) == 7 && r.getInt(6) == 2)
    assert(r.getTimestamp(7).toString.startsWith("2024-03-05 00:00:00"))
    assert(r.getDate(8).toString == "2024-03-03") // Sunday before Tue Mar 5
    assert(r.getTimestamp(9).toString.startsWith("2024-04-01")) // date_trunc -> ts
    assert(r.getString(10) == "x")
    assert(r.getDouble(11) == 2.718282)
  }

  test("batch-5 templates: url tail, regexpQuoteMeta, round sets") {
    val r = ch("""SELECT netloc('https://example.com:8443/p?a=1#f') AS nl,
                 |queryStringAndFragment('https://e.com/p?a=1&b=2#frag') AS qf,
                 |cutQueryStringAndFragment('https://e.com/p?a=1#frag') AS cq,
                 |extractURLParameters('https://e.com/p?a=1&b=2') AS ps,
                 |regexpQuoteMeta('a.b*c') AS rq,
                 |roundDuration(95) AS rd,
                 |roundDuration(0) AS rd0,
                 |roundAge(31) AS ra,
                 |roundAge(12) AS ra2""".stripMargin).collect()(0)
    assert(r.getString(0) == "example.com:8443")
    assert(r.getString(1) == "a=1&b=2#frag")
    assert(r.getString(2) == "https://e.com/p")
    assert(r.getSeq[String](3) == Seq("a=1", "b=2"))
    assert(r.getString(4) == "a\\.b\\*c")
    assert(r.getInt(5) == 60 && r.getInt(6) == 0)
    assert(r.getInt(7) == 25 && r.getInt(8) == 17)
  }

  test("batch-6 templates: visitParam, ranges, AUC, readable formats") {
    val r = ch("""SELECT visitParamExtractString('{"k": "v"}', 'k') AS vs,
                 |visitParamExtractInt('{"n": 42}', 'n') AS vi,
                 |visitParamHas('{"n": 42}', 'z') AS vh,
                 |toDate('2024-03-05 07:08:09') AS td,
                 |toYYYYMMDDhhmmss(CAST('2024-03-05 07:08:09' AS TIMESTAMP)) AS ymdh,
                 |timeSlots(CAST('2024-01-01 00:10:00' AS TIMESTAMP), 3600) AS ts,
                 |arrayAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS auc,
                 |range(4) AS r1, range(0) AS r0, range(2, 8, 3) AS r3,
                 |minus(10, 4) AS mn, multiply(6, 7) AS ml, negate(5) AS ng,
                 |isZeroOrNull(0) AS iz, ignore('x', 1) AS ig,
                 |formatReadableSize(1536) AS fs,
                 |formatReadableQuantity(1234567) AS fq,
                 |formatReadableDecimalSize(2500000) AS fd,
                 |emptyArrayInt64() AS ea""".stripMargin).collect()(0)
    assert(r.getString(0) == "v" && r.getLong(1) == 42L && !r.getBoolean(2))
    assert(r.getDate(3).toString == "2024-03-05")
    assert(r.getLong(4) == 20240305070809L)
    assert(r.getSeq[java.sql.Timestamp](5).map(_.toString.substring(11, 16)) ==
      Seq("00:00", "00:30", "01:00"))
    assert(r.getDouble(6) == 0.75)
    assert(r.getSeq[Int](7) == Seq(0, 1, 2, 3))
    assert(r.getSeq[Int](8) == Seq.empty)
    assert(r.getSeq[Int](9) == Seq(2, 5))
    // minus/multiply/negate promote to the next wider type (ChArith)
    assert(r.getLong(10) == 6L && r.getLong(11) == 42L && r.getLong(12) == -5L)
    assert(r.getBoolean(13) && r.getInt(14) == 0)
    assert(r.getString(15) == "1.50 KiB")
    assert(r.getString(16) == "1.23 million")
    assert(r.getString(17) == "2.50 MB")
    assert(r.getSeq[Long](18) == Seq.empty)
  }

  test("batch-7: combinator tail sumCount/OrNull/uniqCombined64/quantileGK") {
    val r = ch("""SELECT sumCount(l_quantity) AS sc,
                 |sumOrNull(CASE WHEN l_quantity < 0 THEN l_quantity END) AS sn,
                 |uniqCombined64(l_returnflag) AS uc,
                 |quantileGK(100)(l_quantity) AS qg
                 |FROM lineitem""".stripMargin).collect()(0)
    val sc = r.getStruct(0)
    assert(sc.getDouble(0) > 0 && sc.getLong(1) > 0)
    assert(r.isNullAt(1)) // no negative quantities -> empty agg -> NULL
    assert(r.getLong(2) == 3L)
    assert(r.getDouble(3) >= 1.0 && r.getDouble(3) <= 50.0)
  }

  test("CREATE FUNCTION macro expands inline and via registry") {
    val r = ch("""CREATE FUNCTION linear AS (x, k, b) -> k*x + b;
                 |SELECT linear(2, 3, 1) AS y""".stripMargin).collect()(0)
    assert(r.getInt(0) == 7)
    // single-param form + macro calling a dialect function
    val r2 = ch("""CREATE FUNCTION norm_text AS s -> lower(trimBoth(s));
                  |SELECT norm_text('  HeLLo  ') AS t""".stripMargin).collect()(0)
    assert(r2.getString(0) == "hello")
    // registry persists across calls
    graft.sqlfront.ChSql.createFunction("CREATE FUNCTION double_it AS (x) -> x * 2")
    val r3 = ch("SELECT double_it(21) AS v").collect()(0)
    assert(r3.getInt(0) == 42)
    graft.sqlfront.ChSql.dropFunction("double_it")
  }

  test("batch-8: gcd/lcm and space-filling-curve kernels by CH name") {
    val r = ch("""SELECT gcd(12, 18) AS g, lcm(4, 6) AS l,
                 |mortonEncode(5, 3) AS m,
                 |mortonDecode(27)[1] AS mx, mortonDecode(27)[2] AS my,
                 |hilbertDecode(hilbertEncode(123, 456))[1] AS hx,
                 |hilbertDecode(hilbertEncode(123, 456))[2] AS hy""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == 6 && r.getLong(1) == 12)
    assert(r.getLong(2) == 27)
    assert(r.getLong(3) == 5 && r.getLong(4) == 3)
    assert(r.getLong(5) == 123 && r.getLong(6) == 456)
  }

  test("batch-9: bitmap family over sorted-distinct arrays") {
    val r = ch("""SELECT
                 |bitmapCardinality(bitmapBuild([1, 2, 2, 3])) AS card,
                 |bitmapMin(bitmapBuild([3, 1, 2])) AS mn,
                 |bitmapMax(bitmapBuild([3, 1, 2])) AS mx,
                 |bitmapToArray(bitmapAnd(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4]))) AS band,
                 |bitmapToArray(bitmapOr(bitmapBuild([1, 2]), bitmapBuild([2, 3]))) AS bor,
                 |bitmapToArray(bitmapXor(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4]))) AS bxor,
                 |bitmapToArray(bitmapAndnot(bitmapBuild([1, 2, 3]), bitmapBuild([2]))) AS bnot,
                 |bitmapContains(bitmapBuild([1, 2]), 2) AS has2,
                 |bitmapHasAny(bitmapBuild([1, 2]), bitmapBuild([2, 9])) AS anyc,
                 |bitmapHasAll(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3])) AS allc,
                 |bitmapAndCardinality(bitmapBuild([1, 2, 3]), bitmapBuild([2, 3, 4])) AS nand
                 |""".stripMargin).collect()(0)
    // r15: min/max coalesce empty-bitmap defaults (widened to BIGINT);
    // the predicate trio returns INT 1/0 (the reference's UInt8), so
    // `0 = bitmapHasAny(..)` comparisons type-check
    assert(r.getInt(0) == 3 && r.getAs[Number](1).longValue == 1L &&
      r.getAs[Number](2).longValue == 3L)
    assert(r.getSeq[Int](3) == Seq(2, 3))
    assert(r.getSeq[Int](4) == Seq(1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(1, 4))
    assert(r.getSeq[Int](6) == Seq(1, 3))
    assert(r.getInt(7) == 1 && r.getInt(8) == 1 && r.getInt(9) == 1)
    assert(r.getInt(10) == 2)
  }

  test("batch-9: array tail — fold, partial sort, symmetric diff, enumerate") {
    val r = ch("""SELECT
                 |arrayFold((acc, x) -> acc + x, [1, 2, 3], 10) AS fold,
                 |arrayPartialSort(2, [3, 1, 2]) AS psort,
                 |arraySymmetricDifference([1, 2, 3], [2, 3, 4]) AS symdiff,
                 |arrayEnumerateUniq([10, 20, 10, 30, 10]) AS enum""".stripMargin)
      .collect()(0)
    assert(r.getInt(0) == 16)
    assert(r.getSeq[Int](1) == Seq(1, 2, 3))
    assert(r.getSeq[Int](2) == Seq(1, 4))
    assert(r.getSeq[Int](3) == Seq(1, 1, 2, 1, 3))
  }

  test("batch-8: JSON introspection tail") {
    val j = """'{"a": 1, "arr": [1, 2, 3], "s": "x", "b": true}'"""
    val r = ch(s"""SELECT JSONExtractKeys($j) AS ks,
                  |JSONLength($j, 'arr') AS n,
                  |JSONType($j) AS t_root, JSONType($j, 'arr') AS t_arr,
                  |JSONType($j, 'b') AS t_b, JSONType($j, 'a') AS t_a,
                  |JSONExtractArrayRaw($j, 'arr') AS raw,
                  |simpleJSONExtractInt($j, 'a') AS a,
                  |simpleJSONHas($j, 'zz') AS has_zz""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == Seq("a", "arr", "s", "b"))
    assert(r.getInt(1) == 3)
    assert(r.getString(2) == "Object" && r.getString(3) == "Array")
    assert(r.getString(4) == "Bool" && r.getString(5) == "Number")
    assert(r.getSeq[String](6) == Seq("1", "2", "3"))
    assert(r.getLong(7) == 1L)
    assert(!r.getBoolean(8))
  }

  test("batch-12: NLP classification by CH name") {
    val r = ch("""SELECT lemmatize('en', 'tables') AS l1, lemmatize('went') AS l2,
                 |synonyms('ext', 'fast') AS syn, synonyms('zzz') AS syn_unknown,
                 |detectTonality('fast clean merge') AS pos,
                 |detectTonality('slow bad error') AS neg,
                 |detectTonality('xyzzy qqq') AS zero,
                 |detectProgrammingLanguage('select from table query join') AS sql_lang,
                 |detectProgrammingLanguage('xyzzy') AS undef""".stripMargin).collect()(0)
    assert(r.getString(0) == "table" && r.getString(1) == "go")
    assert(r.getSeq[String](2) == Seq("fast", "quick", "rapid", "swift"))
    assert(r.getSeq[String](3) == Seq())
    assert(r.getDouble(4) > 0 && r.getDouble(5) < 0 && r.getDouble(6) == 0.0)
    assert(r.getString(7) == "sql" && r.getString(8) == "undefined")
    // tonality formula: mean weight rescaled (+/6, -/12)
    val exp = (5 + 4 + 3) / 3.0 / 6.0
    assert(math.abs(r.getDouble(4) - exp) < 1e-12)
  }

  test("batch-13: detectLanguage, normalizeUTF8 forms") {
    val r = ch("""SELECT detectLanguage('the cat is on the mat and in the box') AS en,
                 |detectLanguage('le chat est dans la maison pour les souris') AS fr,
                 |detectLanguageUnknown('xyzzy qqq') AS und,
                 |normalizeUTF8NFC('é') AS nfc,
                 |normalizeUTF8NFD('é') AS nfd,
                 |length(normalizeUTF8NFC('é')) AS nfc_len,
                 |length(normalizeUTF8NFD('é')) AS nfd_len""".stripMargin).collect()(0)
    assert(r.getString(0) == "en" && r.getString(1) == "fr" && r.getString(2) == "und")
    // CH length() counts BYTES: NFC é = 2 (C3 A9), NFD e+◌́ = 3 (65 CC 81)
    assert(r.getInt(5) == 2 && r.getInt(6) == 3)
  }

  test("batch-13: date tail — makeDateTime, parseDateTime, Joda pair, packed digits") {
    val r = ch("""SELECT makeDateTime(2024, 3, 5, 7, 8, 9) AS mk,
                 |parseDateTime('2024-03-05 07:08:09', '%Y-%m-%d %H:%i:%s') AS pd,
                 |parseDateTimeInJodaSyntax('2024-03-05', 'yyyy-MM-dd') AS pj,
                 |formatDateTimeInJodaSyntax(CAST('2024-03-05 07:08:09' AS TIMESTAMP), 'yyyy/MM/dd') AS fj,
                 |YYYYMMDDhhmmssToDateTime(20240305070809) AS yd,
                 |dateTrunc('month', CAST('2024-03-05' AS TIMESTAMP)) AS dt""".stripMargin)
      .collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2024-03-05 07:08:09"))
    assert(r.getTimestamp(1) == r.getTimestamp(0))
    assert(r.getTimestamp(2).toString.startsWith("2024-03-05 00:00"))
    assert(r.getString(3) == "2024/03/05")
    assert(r.getTimestamp(4) == r.getTimestamp(0))
    assert(r.getTimestamp(5).toString.startsWith("2024-03-01"))
  }

  test("batch-13: array/map tail — hasSubstr, ngrams, cumsum clamp, map sort/filter") {
    val r = ch("""SELECT hasSubstr([1, 2, 3, 4], [2, 3]) AS h1,
                 |hasSubstr([1, 2, 3], [3, 2]) AS h2,
                 |ngrams('abcd', 2) AS ng,
                 |arrayFirstOrNull(x -> x > 1, [1, 2, 3]) AS fo,
                 |arrayLastOrNull(x -> x > 9, [1, 2, 3]) AS lo,
                 |arrayCumSumNonNegative([1, -3, 4, -1]) AS cs,
                 |mapContainsValue(map('a', 1, 'b', 2), 2) AS mv,
                 |map_keys(mapSort(map('b', 2, 'a', 1))) AS mk,
                 |map_keys(mapExtractKeyLike(map('aa', 1, 'bb', 2), 'a%')) AS ml""".stripMargin)
      .collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getSeq[String](2) == Seq("ab", "bc", "cd"))
    assert(r.getInt(3) == 2 && r.isNullAt(4))
    assert(r.getSeq[Long](5) == Seq(1L, 0L, 4L, 3L))
    assert(r.getBoolean(6))
    assert(r.getSeq[String](7) == Seq("a", "b"))
    assert(r.getSeq[String](8) == Seq("aa"))
    // forward/backward fill: zeros carry the last non-zero neighbor
    val f = ch("""SELECT arrayFill(x -> x != 0, [1, 0, 0, 5, 0]) AS ff,
                 |arrayReverseFill(x -> x != 0, [0, 0, 3, 0, 7]) AS bf""".stripMargin)
      .collect()(0)
    assert(f.getSeq[Int](0) == Seq(1, 1, 1, 5, 5))
    assert(f.getSeq[Int](1) == Seq(3, 3, 3, 7, 7))
  }

  test("batch-13: IP/MAC/URL/misc tail") {
    val r = ch("""SELECT INET_ATON('1.2.3.4') AS ia,
                 |INET_NTOA(16909060) AS na,
                 |IPv4CIDRToRange(16909060, 24).lower AS lo,
                 |IPv4CIDRToRange(16909060, 24).upper AS hi,
                 |IPv4CIDRToRange(16909060, 0).lower AS lo0,
                 |IPv4CIDRToRange(16909060, 0).upper AS hi0,
                 |MACStringToNum('00:11:22:33:44:55') AS mn,
                 |MACNumToString(73588229205) AS ms,
                 |MACStringToOUI('00:11:22:33:44:55') AS oui,
                 |cutURLParameter('http://a/b?x=1&y=2', 'x') AS cu,
                 |extractURLParameterNames('http://a/b?x=1&y=2') AS names,
                 |positiveModulo(-3, 5) AS pm,
                 |intDivOrNull(5, 0) AS dz,
                 |multiplyDecimal(1.5, 2.5, 2) AS md,
                 |length(randomPrintableASCII(7)) AS rl,
                 |CRC32IEEE('abc') AS crc""".stripMargin).collect()(0)
    def n(i: Int) = r.getAs[Number](i).longValue
    assert(n(0) == 16909060L)
    assert(r.getString(1) == "1.2.3.4")
    assert(n(2) == 16909056L && n(3) == 16909311L)
    assert(n(4) == 0L && n(5) == 4294967295L) // /0 spans the whole space
    assert(n(6) == 0x001122334455L)
    assert(r.getString(7) == "00:11:22:33:44:55")
    assert(n(8) == 0x001122L)
    assert(r.getString(9) == "http://a/b?y=2")
    assert(r.getSeq[String](10) == Seq("x", "y"))
    assert(r.getInt(11) == 2)
    assert(r.isNullAt(12))
    assert(r.getDecimal(13).toString == "3.75")
    assert(r.getInt(14) == 7)
    // reference CRC32IEEE = reflected IEEE poly, init 0, NO final xor
    // (CRC.cpp CRCImpl) — differs from zlib's 891568578 for "abc"
    assert(n(15) == 3395655888L)
  }

  test("batch-14: jumpConsistentHash, geo, bitmask, ztest, time delta, URL hierarchy") {
    val r = ch("""SELECT jumpConsistentHash(42, 8) AS jh,
                 |jumpConsistentHash(42, 8) = jumpConsistentHash(42, 8) AS stable,
                 |round(greatCircleDistance(-86.67, 36.12, -118.40, 33.94), 0) AS gc,
                 |round(greatCircleAngle(0.0, 0.0, 90.0, 0.0), 6) AS ga,
                 |pointInEllipses(1.0, 1.0, 0.0, 0.0, 2.0, 2.0) AS pe_in,
                 |pointInEllipses(3.0, 3.0, 0.0, 0.0, 2.0, 2.0) AS pe_out,
                 |bitmaskToArray(50) AS bm,
                 |bitPositionsToArray(50) AS bp,
                 |proportionsZTest(10, 11, 100, 101).p_value AS pz,
                 |formatReadableTimeDelta(93784) AS td,
                 |URLHierarchy('https://example.com/a/b?k=1') AS uh,
                 |URLPathHierarchy('https://example.com/a/b?k=1') AS uph""".stripMargin)
      .collect()(0)
    val jh = r.getInt(0)
    assert(jh >= 0 && jh < 8 && r.getBoolean(1))
    // classic haversine example: BNA -> LAX ~ 2886.4 km at R=6371 km
    assert(math.abs(r.getDouble(2) - 2886449.0) < 2000)
    assert(math.abs(r.getDouble(3) - 90.0) < 1e-6)
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getSeq[Long](6) == Seq(2L, 16L, 32L))
    assert(r.getSeq[Int](7) == Seq(1, 4, 5))
    assert(r.getDouble(8) > 0.5) // 10/100 vs 11/101: clearly no difference
    assert(r.getString(9) == "1 days, 2 hours, 3 minutes, 4 seconds")
    assert(r.getSeq[String](10) == Seq("https://example.com/",
      "https://example.com/a/", "https://example.com/a/b/", "https://example.com/a/b?k=1"))
    assert(r.getSeq[String](11) == Seq("/a/", "/a/b/"))
  }

  test("batch-15: UTF8 canonicalization, multiSearchAllPositions, arraySplit, readable size") {
    val r = ch("""SELECT lengthUTF8('abc') AS l, substringUTF8('abcdef', 2, 3) AS s,
                 |editDistanceUTF8('kitten', 'sitting') AS ed,
                 |multiSearchAllPositions('hello world', ['world', 'zzz', 'hello']) AS msp,
                 |arraySplit(x -> x = 1, [5, 1, 2, 1, 3]) AS sp,
                 |arrayReverseSplit(x -> x = 1, [5, 1, 2, 1, 3]) AS rsp,
                 |parseReadableSize('1.5 KiB') AS pk,
                 |parseReadableSize('2 MB') AS pm,
                 |parseReadableSizeOrZero('oops') AS pz""".stripMargin).collect()(0)
    assert(r.getInt(0) == 3 && r.getString(1) == "bcd" && r.getInt(2) == 3)
    assert(r.getSeq[Int](3) == Seq(7, 0, 1))
    assert(r.getSeq[Seq[Int]](4) == Seq(Seq(5), Seq(1, 2), Seq(1, 3)))
    assert(r.getSeq[Seq[Int]](5) == Seq(Seq(5, 1), Seq(2, 1), Seq(3)))
    assert(r.getDouble(6) == 1536.0 && r.getDouble(7) == 2000000.0 && r.getDouble(8) == 0.0)
  }

  test("batch-12: detectCharset, normalizeQuery, normalizedQueryHash") {
    val r = ch("""SELECT detectCharset('plain ascii') AS a,
                 |detectCharset(concat('utf8: ', char(50089))) AS u,
                 |detectCharset(unhex('FFFE41')) AS l,
                 |normalizeQuery('SELECT a FROM t WHERE x = 42 AND s = ''q'' AND k IN (1, 2, 3)') AS nq,
                 |normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT 2') AS same_shape,
                 |normalizedQueryHash('SELECT 1') = normalizedQueryHash('SELECT a') AS diff_shape""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "US-ASCII")
    assert(r.getString(1) == "UTF-8")
    assert(r.getString(2) == "ISO-8859-1")
    assert(r.getString(3) == "SELECT a FROM t WHERE x = ? AND s = ? AND k IN (?..)")
    assert(r.getBoolean(4))   // literals erased -> same fingerprint
    assert(!r.getBoolean(5))  // different shape -> different fingerprint
  }

  test("batch-12: now64, runningAccumulate, quantileDD") {
    val r = ch("""SELECT o_orderkey,
                 |runningAccumulate(o_totalprice, o_orderkey) AS acc
                 |FROM orders ORDER BY o_orderkey LIMIT 3""".stripMargin).collect()
    assert(r.length == 3)
    assert(r(0).getDouble(1) <= r(1).getDouble(1) || r(1).getDouble(1) > 0)
    val accs = r.map(_.getDouble(1))
    assert(accs(2) > accs(0)) // strictly accumulating over positive prices
    val t = ch("SELECT now64() AS t, now64(9) AS t9").collect()(0)
    assert(t.get(0) != null && t.get(1) != null)
    val qd = ch("""SELECT quantileDD(0.01, 0.5)(l_quantity) AS m1,
                  |quantileDD(0.01)(l_quantity) AS m2 FROM lineitem""".stripMargin)
      .collect()(0)
    assert(qd.getDouble(0) > 0 && math.abs(qd.getDouble(0) - qd.getDouble(1)) < 1e-9)
  }

  test("batch-12: wkt/svg/readWKTPolygon over array<struct<x,y>> geometry") {
    val poly = "array(named_struct('x', 0.0D, 'y', 0.0D), " +
      "named_struct('x', 2.0D, 'y', 0.0D), named_struct('x', 1.0D, 'y', 1.5D))"
    val r = ch(s"""SELECT wkt($poly) AS w, svg($poly) AS s,
                  |readWKTPolygon(wkt($poly)) AS rt""".stripMargin).collect()(0)
    assert(r.getString(0) == "POLYGON((0.0 0.0, 2.0 0.0, 1.0 1.5))")
    assert(r.getString(1) == "<polygon points=\"0.0,0.0 2.0,0.0 1.0,1.5\"/>")
    val rt = r.getSeq[org.apache.spark.sql.Row](2)
    assert(rt.size == 3 && rt(2).getDouble(0) == 1.0 && rt(2).getDouble(1) == 1.5)
  }

  test("batch-12: significant subdomain and dictGet family") {
    val u = "'https://news.example.com.tr/path?q=1'"
    val v = "'http://www.blog.example.com/x'"
    val r = ch(s"""SELECT firstSignificantSubdomain($u) AS f1,
                  |cutToFirstSignificantSubdomain($u) AS c1,
                  |firstSignificantSubdomain($v) AS f2,
                  |cutToFirstSignificantSubdomain($v) AS c2""".stripMargin).collect()(0)
    assert(r.getString(0) == "example" && r.getString(1) == "example.com.tr")
    assert(r.getString(2) == "example" && r.getString(3) == "example.com")
    val d = ch("""SELECT c_custkey,
                 |dictGet('nation', 'n_name', 'n_nationkey', c_nationkey) AS nat,
                 |dictGetOrDefault('nation', 'n_name', 'n_nationkey', c_nationkey + 1000, 'none') AS dflt
                 |FROM customer ORDER BY c_custkey LIMIT 2""".stripMargin).collect()
    assert(d.forall(_.getString(1) != null))
    assert(d.forall(_.getString(2) == "none"))
    // CREATE DICTIONARY declares the key -> CH-native 3-arg dictGet
    ch("""CREATE DICTIONARY nat_dict (n_nationkey UInt64, n_name String)
         |PRIMARY KEY n_nationkey
         |SOURCE(CLICKHOUSE(TABLE 'nation')) LAYOUT(HASHED()) LIFETIME(0)""".stripMargin)
    val d3 = ch("""SELECT c_custkey, dictGet('nat_dict', 'n_name', c_nationkey) AS nat,
                  |dictGetOrDefault('nat_dict', 'n_name', c_nationkey + 1000, 'none') AS dflt
                  |FROM customer ORDER BY c_custkey LIMIT 2""".stripMargin).collect()
    assert(d3.forall(_.getString(1) != null))
    assert(d3.forall(_.getString(2) == "none"))
    ch("DROP DICTIONARY nat_dict")
  }

  test("strict string->number parsing: OrZero/OrNull reject junk, whitespace, partial parses") {
    // reference FunctionsConversion.h isAllRead (full consumption),
    // ReadHelpers.h readIntTextImpl (no ws skip, single sign, checked
    // overflow), readFloatText.h (exponents, inf/nan case-insensitive)
    val r = ch("""SELECT
                 |toInt64OrZero('42') AS a, toInt64OrZero('+42') AS b,
                 |toInt64OrZero('-0042') AS c,
                 |toInt64OrZero('12.5') AS d, toInt64OrZero(' 42') AS e,
                 |toInt64OrZero('42 ') AS f, toInt64OrZero('42abc') AS g,
                 |toInt64OrZero('') AS h, toInt64OrZero('+-3') AS i,
                 |toInt64OrZero('9223372036854775807') AS j,
                 |toInt64OrZero('9223372036854775808') AS k,
                 |toInt64OrNull('12.5') AS l,
                 |toInt8OrNull('127') AS m, toInt8OrNull('128') AS n,
                 |toUInt8OrZero('255') AS o, toUInt8OrZero('256') AS p,
                 |toUInt32OrNull('-1') AS q2,
                 |toFloat64OrZero('1.5e3') AS r1, toFloat64OrZero('1.5d') AS r2,
                 |toFloat64OrZero('.5') AS r3, toFloat64OrZero('12.') AS r4,
                 |toFloat64OrNull('INF') AS r5, toFloat64OrNull('-infinity') AS r6,
                 |toFloat64OrNull('nan') AS r7, toFloat64OrNull('0x10') AS r8,
                 |toFloat64OrNull(' 1.5') AS r9,
                 |toInt64OrDefault('zzz', 7) AS s1,
                 |toFloat64OrDefault('2.5', 9.0) AS s2""".stripMargin).collect()(0)
    assert(r.getLong(0) == 42L && r.getLong(1) == 42L && r.getLong(2) == -42L)
    assert(r.getLong(3) == 0L && r.getLong(4) == 0L && r.getLong(5) == 0L)
    assert(r.getLong(6) == 0L && r.getLong(7) == 0L && r.getLong(8) == 0L)
    assert(r.getLong(9) == Long.MaxValue && r.getLong(10) == 0L)
    assert(r.isNullAt(11))
    assert(r.getByte(12) == 127 && r.isNullAt(13))
    assert(r.getLong(14) == 255L && r.getLong(15) == 0L)
    assert(r.isNullAt(16))
    assert(r.getDouble(17) == 1500.0 && r.getDouble(18) == 0.0)
    assert(r.getDouble(19) == 0.5 && r.getDouble(20) == 12.0)
    assert(r.getDouble(21).isPosInfinity && r.getDouble(22).isNegInfinity)
    assert(r.getDouble(23).isNaN && r.isNullAt(24) && r.isNullAt(25))
    assert(r.getLong(26) == 7L && r.getDouble(27) == 2.5)
  }

  test("rounding family: CH semantics (banker's float ties, FP scaling, int negative scale)") {
    // reference src/Functions/FunctionsRound.h: floats scale in BINARY FP
    // (round(2.675, 2) = 2.68 because 2.675*100 rounds to exactly 267.5,
    // then ties-to-even -> 268; Spark's decimal-exact bround gives 2.67),
    // round ties to even (round(2.5) = 2), integers round half away from
    // zero with exact arithmetic, result type = argument type. Float
    // vectors verified against an IEEE-exact model of the C++ path.
    val r = ch("""SELECT
                 |round(2.5) AS a, round(3.5) AS b, round(-2.5) AS c,
                 |round(2.675, 2) AS d, round(1.005, 2) AS e,
                 |round(0.125, 2) AS f, round(0.135, 2) AS g,
                 |round(25, -1) AS h, round(-25, -1) AS i,
                 |roundBankers(25, -1) AS j, roundBankers(35, -1) AS k,
                 |roundBankers(-25, -1) AS l, roundBankers(2.675, 2) AS m,
                 |floor(2.7) AS n, floor(-2.31, 1) AS o, floor(0.29, 2) AS p,
                 |ceil(2.31, 1) AS q2, trunc(-2.7) AS r1, trunc(-2.59, 1) AS r2,
                 |round(5, 2) AS s1, round(toInt8(100), -3) AS s2,
                 |trunc(29, -1) AS s3, ceil(21, -1) AS s4, ceil(-21, -1) AS s5,
                 |floor(-21, -1) AS s6,
                 |round(toFloat32(2.675), 2) AS f32""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 2.0 && r.getDouble(1) == 4.0 && r.getDouble(2) == -2.0)
    assert(r.getDouble(3) == 2.68 && r.getDouble(4) == 1.0)
    assert(r.getDouble(5) == 0.12 && r.getDouble(6) == 0.14)
    assert(r.getInt(7) == 30 && r.getInt(8) == -30)
    assert(r.getInt(9) == 20 && r.getInt(10) == 40 && r.getInt(11) == -20)
    assert(r.getDouble(12) == 2.68)
    assert(r.getDouble(13) == 2.0 && r.getDouble(14) == -2.4 && r.getDouble(15) == 0.28)
    assert(r.getDouble(16) == 2.4 && r.getDouble(17) == -2.0 && r.getDouble(18) == -2.5)
    assert(r.getInt(19) == 5 && r.getByte(20) == 0)
    assert(r.getInt(21) == 20 && r.getInt(22) == 30 && r.getInt(23) == -20)
    assert(r.getInt(24) == -30)
    assert(r.getFloat(25) == 2.68f)
    val rd = ch("SELECT roundDown(7, [2, 5, 10]) AS a, roundDown(1, [2, 5, 10]) AS b, " +
      "roundDown(10, [2, 5, 10]) AS c").collect()(0)
    assert(rd.getInt(0) == 5 && rd.getInt(1) == 2 && rd.getInt(2) == 10)
  }

  test("arithmetic promotes to the next wider int type; date arms; bool as UInt8") {
    // reference src/Functions/plus.cpp via NumberTraits: Int32+Int32 ->
    // Int64 (no 32-bit overflow), Int64 wraps; negate promotes signed
    val r = ch("""SELECT
                 |plus(2147483647, 1) AS a,
                 |multiply(2147483647, 3) AS b,
                 |minus(-2147483648, 1) AS c,
                 |plus(9223372036854775807, 1) AS d,
                 |plus(1 > 0, 41) AS e,
                 |negate(toInt32(-2147483648)) AS f,
                 |minus(toDate('2024-03-05'), toDate('2024-02-01')) AS g,
                 |plus(toDate('2024-02-28'), 2) AS h""".stripMargin).collect()(0)
    assert(r.getLong(0) == 2147483648L)
    assert(r.getLong(1) == 6442450941L)
    assert(r.getLong(2) == -2147483649L)
    assert(r.getLong(3) == Long.MinValue) // 64-bit wrap like the reference
    assert(r.getLong(4) == 42L)
    assert(r.getLong(5) == 2147483648L)
    assert(r.getInt(6) == 33)
    assert(r.getDate(7).toString == "2024-03-01")
  }

  test("byte semantics: base string ops count bytes, *UTF8 count code points") {
    // reference src/Functions/substring.cpp:34 (non-UTF8 = bytes),
    // position.cpp, reverse.cpp, LowerUpperImpl.h (ASCII-only fold)
    val r = ch("""SELECT length('日') AS b3,
                 |lengthUTF8('日本') AS cp2,
                 |substring('aéb', 2, 2) AS sub_e,
                 |hex(substring('é', 1, 1)) AS cut,
                 |substringUTF8('aéb', 2, 1) AS sub_cp,
                 |upper('Grüße') AS up_ascii,
                 |upperUTF8('grüße') AS up_utf8_u,
                 |lower('ÉE') AS lo_ascii,
                 |position('xéy', 'y') AS pos_b,
                 |positionUTF8('xéy', 'y') AS pos_cp,
                 |positionCaseInsensitive('xéY', 'y') AS posci_b,
                 |hex(reverse('aé')) AS rev_b,
                 |reverseUTF8('aé') AS rev_cp,
                 |left('aéb', 3) AS left_b,
                 |right('aéb', 3) AS right_b,
                 |left('abcd', -1) AS left_neg,
                 |right('abcd', -1) AS right_neg""".stripMargin).collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2)
    assert(r.getString(2) == "é" && r.getString(3) == "C3" && r.getString(4) == "é")
    assert(r.getString(5) == "GRüßE") // ü/ß untouched by ASCII fold
    assert(r.getString(6).startsWith("GRÜ")) // Unicode fold
    assert(r.getString(7) == "Ée")
    assert(r.getInt(8) == 4 && r.getInt(9) == 3 && r.getInt(10) == 4)
    assert(r.getString(11) == "A9C361") // bytes 61 C3 A9 reversed
    assert(r.getString(12) == "éa")
    assert(r.getString(13) == "aé" && r.getString(14) == "éb")
    assert(r.getString(15) == "abc" && r.getString(16) == "bcd")
  }

  test("batch-16: split/replace/string-stats gap fill") {
    val r = ch("""SELECT splitByRegexp('[0-9]+', 'a1b22c') AS sr,
                 |splitByAlpha('ab12cd') AS sa,
                 |splitByNonAlpha('a-b c.d') AS sn,
                 |replaceOne('aabbaa', 'aa', 'X') AS r1,
                 |replaceRegexpOne('a1b2', '[0-9]', 'X') AS rr1,
                 |toStringCutToZero(concat('ab', char(0), 'cd')) AS cz,
                 |mismatches('abcd', 'abXd') AS mm,
                 |stringBytesUniq('aabbc') AS sbu,
                 |stringBytesEntropy('aabb') AS sbe,
                 |countMatchesCaseInsensitive('aAbA', 'a') AS cmi,
                 |hasSubsequenceUTF8('hello world', 'hlo') AS hs,
                 |hasTokenOrNull('quick brown fox', 'brown') AS ht,
                 |hasTokenOrNull('quick brown', 'brown fox') AS htn""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) == Seq("a", "b", "c"))
    assert(r.getSeq[String](1) == Seq("ab", "cd"))
    assert(r.getSeq[String](2) == Seq("a", "b", "c", "d"))
    assert(r.getString(3) == "Xbbaa")
    assert(r.getString(4) == "aXb2")
    assert(r.getString(5) == "ab")
    assert(r.getAs[Number](6).longValue == 1L)
    assert(r.getLong(7) == 3L)
    assert(r.getDouble(8) == 1.0)
    assert(r.getAs[Number](9).longValue == 3L)
    assert(r.getBoolean(10))
    assert(r.getBoolean(11))
    assert(r.isNullAt(12))
  }

  test("batch-16: date/time tail incl. relative nums and days-since-year-zero") {
    val r = ch("""SELECT toISOYear(toDate('1995-01-01')) AS iso_y,
                 |toLastDayOfWeek(toDate('1996-01-03')) AS ldw,
                 |toRelativeMonthNum(toDate('1996-02-15')) AS rmn,
                 |toRelativeQuarterNum(toDate('1996-02-15')) AS rqn,
                 |toRelativeWeekNum(toDate('1970-01-05')) AS rwn,
                 |toDaysSinceYearZero(toDate('1970-01-01')) AS dsy,
                 |fromDaysSinceYearZero(719528) AS fdy,
                 |toMonthNumSinceEpoch(toDate('1970-02-01')) AS mse,
                 |toYearNumSinceEpoch(toDate('1996-06-01')) AS yse,
                 |addMicroseconds(toDateTime('1970-01-01 00:00:00'), 5) AS amu,
                 |changeHour(toDateTime('1996-01-01 10:20:30'), 5) AS chh,
                 |toMillisecond(addMicroseconds(toDateTime('1970-01-01 00:00:00'), 7000)) AS tms,
                 |timestampDiff('day', toDate('1996-01-01'), toDate('1996-03-01')) AS td""".stripMargin)
      .collect()(0)
    assert(r.getAs[Number](0).intValue == 1994) // 1995-01-01: Sunday of ISO week 1994-52
    assert(r.getDate(1).toString == "1996-01-07") // Wednesday -> that week's Sunday
    assert(r.getAs[Number](2).intValue == 1996 * 12 + 2)
    assert(r.getAs[Number](3).intValue == 1996 * 4 + 0)
    assert(r.getAs[Number](4).longValue == 1L) // first Monday after epoch
    assert(r.getAs[Number](5).longValue == 719528L)
    assert(r.getDate(6).toString == "1970-01-01")
    assert(r.getAs[Number](7).intValue == 1)
    assert(r.getAs[Number](8).intValue == 26)
    assert(r.getTimestamp(9).getNanos == 5000) // 5 us
    assert(r.getTimestamp(10).toString.contains("05:20:30"))
    assert(r.getAs[Number](11).longValue == 7L)
    assert(r.getAs[Number](12).longValue == 60L)
  }

  test("batch-16: snowflake/ULID/UUID id-time codecs") {
    val r = ch("""SELECT
                 |snowflakeToDateTime64(dateTime64ToSnowflake(toDateTime('2020-06-15 12:34:56'))) AS rt_legacy,
                 |snowflakeIDToDateTime64(dateTimeToSnowflakeID(toDateTime('2020-06-15 12:34:56'))) AS rt_new,
                 |snowflakeIDToDateTime64(dateTimeToSnowflakeID(toDateTime('2020-06-15 12:34:56'), 1288834974657), 1288834974657) AS rt_epoch,
                 |UUIDv7ToDateTime('017f22e2-79b0-7cc3-98c4-dc0c0c07398f') AS v7,
                 |ULIDStringToDateTime('01ARZ3NDEKTSV4RRFFQ69G5FAV') AS ulid,
                 |UUIDNumToString(UUIDStringToNum('61f0c404-5cb3-11e7-907b-a6006ad3dba0')) AS rt_uuid""".stripMargin)
      .collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2020-06-15 12:34:56"))
    assert(r.getTimestamp(1).toString.startsWith("2020-06-15 12:34:56"))
    assert(r.getTimestamp(2).toString.startsWith("2020-06-15 12:34:56"))
    // RFC 9562 UUIDv7 example: ms 0x017F22E279B0 = 2022-02-22 19:22:22 UTC
    assert(r.getTimestamp(3).toString.startsWith("2022-02-22 19:22:22"))
    // canonical ULID README example: time part 01ARZ3NDEK = 1469922850259 ms
    assert(r.getTimestamp(4).getTime == 1469922850259L)
    assert(r.getString(5) == "61f0c404-5cb3-11e7-907b-a6006ad3dba0")
  }

  test("batch-16: map-like probes, vector aliases, simpleJSON tail") {
    val r = ch("""SELECT mapContainsKeyLike(map('abc', 1, 'def', 2), 'a%') AS mk,
                 |mapContainsValueLike(map('k1', 'abc'), 'ab%') AS mv,
                 |mapExtractKeyLike(map('abc', 1, 'def', 2), 'd%') AS mek,
                 |indexOfAssumeSorted([10, 20, 30], 20) AS ioa,
                 |normL2([3.0, 4.0]) AS n2,
                 |normL1([1.0, -2.0]) AS n1,
                 |normLinf([1.0, -5.0, 3.0]) AS ninf,
                 |normL2Squared([3.0, 4.0]) AS n2s,
                 |distanceL1([1.0, 2.0], [4.0, 6.0]) AS d1,
                 |distanceL2([0.0, 0.0], [3.0, 4.0]) AS d2,
                 |scalarProduct([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]) AS sp,
                 |simpleJSONExtractUInt('{"a": 7}', 'a') AS ju,
                 |simpleJSONExtractFloat('{"a": 1.5}', 'a') AS jf,
                 |simpleJSONExtractBool('{"a": true}', 'a') AS jb,
                 |parseDateTimeOrZero('nonsense') AS pz,
                 |parseDateTimeOrNull('nonsense') AS pn""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.getMap[String, Int](2) == Map("def" -> 2))
    assert(r.getAs[Number](3).longValue == 2L)
    assert(r.getDouble(4) == 5.0 && r.getDouble(5) == 3.0 && r.getDouble(6) == 5.0)
    assert(r.getDouble(7) == 25.0)
    assert(r.getDouble(8) == 7.0 && r.getDouble(9) == 5.0)
    assert(r.getDouble(10) == 32.0)
    assert(r.getLong(11) == 7L && r.getDouble(12) == 1.5 && r.getBoolean(13))
    assert(r.getTimestamp(14).toString.startsWith("1970-01-01 00:00:00"))
    assert(r.isNullAt(15))
  }

  test("batch-16: reinterpretAs* bit-level semantics") {
    val r = ch("""SELECT reinterpretAsUInt32('abc') AS u32,
                 |reinterpretAsUInt8('abc') AS u8,
                 |reinterpretAsInt8(reinterpretAsString(255)) AS i8neg,
                 |reinterpretAsUInt64('a') AS u64pad,
                 |reinterpretAsString(65) AS s65,
                 |reinterpretAsString(16706) AS sab,
                 |reinterpretAsUInt32(reinterpretAsString(123456)) AS rt,
                 |reinterpretAsFloat64(reinterpretAsUInt64(toFloat64(2.5))) AS f_rt,
                 |reinterpretAsDate(reinterpretAsString(1)) AS d1,
                 |reinterpretAsDateTime(reinterpretAsString(86400)) AS dt1,
                 |reinterpret('abc', 'UInt32') AS gen""".stripMargin).collect()(0)
    assert(r.getLong(0) == 0x636261L) // 'a'=0x61 LSB first
    assert(r.getInt(1) == 0x61)
    assert(r.getByte(2) == -1) // 0xFF as Int8
    assert(r.getLong(3) == 0x61L) // zero-padded to 8 bytes
    assert(r.getString(4) == "A")
    assert(r.getString(5) == "BA") // 16706 = 0x4142 -> LE bytes 'B','A'
    assert(r.getLong(6) == 123456L)
    assert(r.getDouble(7) == 2.5)
    assert(r.getDate(8).toString == "1970-01-02") // day 1
    assert(r.getTimestamp(9).toString.startsWith("1970-01-02 00:00:00"))
    assert(r.getLong(10) == 0x636261L)
  }

  test("batch-17: normal quantile from first principles hits published values") {
    import graft.functions.Batch17
    assert(math.abs(Batch17.normQuantile(0.975) - 1.959963984540054) < 1e-12)
    assert(math.abs(Batch17.normQuantile(0.8) - 0.8416212335729143) < 1e-12)
    assert(math.abs(Batch17.normQuantile(0.5)) < 1e-12)
    assert(math.abs(Batch17.normQuantile(0.0013498980316300946) + 3.0) < 1e-10) // Phi(-3)
    assert(Batch17.normQuantile(0.0).isNaN)
  }

  test("batch-17: minSampleSize, gini, jsonMergePatch, punycode, extractAllGroups") {
    val r = ch("""SELECT
                 |round(minSampleSizeContinuous(100.0, 20.0, 0.05, 0.8, 0.05)._1, 4) AS mss,
                 |minSampleSizeContinuous(100.0, 20.0, 0.05, 0.8, 0.05)._2 AS mss_lo,
                 |round(minSampleSizeConversion(0.1, 0.02, 0.8, 0.05)._1, 4) AS msc,
                 |round(arrayNormalizedGini([0.9, 0.3, 0.8, 0.35], [1.0, 0.0, 1.0, 0.0])._3, 9) AS gini,
                 |jsonMergePatch('{"a":1,"b":{"x":1,"y":2}}', '{"b":{"y":null,"z":3},"c":4}') AS jmp,
                 |punycodeEncode('München') AS pe,
                 |punycodeDecode('Mnchen-3ya') AS pd,
                 |tryPunycodeDecode('???') AS tpd,
                 |arrayStringConcat(arrayMap(__x -> arrayStringConcat(__x, ':'),
                 |  extractAllGroupsVertical('k1=v1, k2=v2', '(\\w+)=(\\w+)')), '|') AS gv,
                 |arrayStringConcat(arrayMap(__x -> arrayStringConcat(__x, ':'),
                 |  extractAllGroupsHorizontal('k1=v1, k2=v2', '(\\w+)=(\\w+)')), '|') AS gh""".stripMargin)
      .collect()(0)
    // 2*sigma^2*(z(0.975)+z(0.8))^2/delta^2 = 2*400*7.849/25 = 251.1685...
    assert(math.abs(r.getDouble(0) - 251.1657) < 0.01)
    assert(r.getDouble(1) === 95.0)
    // conversion formula at p1=.1, mde=.02
    assert(r.getDouble(2) > 3000 && r.getDouble(2) < 4500)
    // perfect ranking (descending prediction = descending label) -> gini_normalized 1.0
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    assert(r.getString(4) == """{"a":1,"b":{"x":1,"z":3},"c":4}""")
    assert(r.getString(5) == "Mnchen-3ya")
    assert(r.getString(6) == "München")
    assert(r.isNullAt(7))
    assert(r.getString(8) == "k1:v1|k2:v2")
    assert(r.getString(9) == "k1:k2|v1:v2")
  }

  test("dialect farmHash64/metroHash64/farmFingerprint64 route to the faithful kernels") {
    import graft.functions.HashCompat
    val r = ch("""SELECT farmHash64('abc') AS f, metroHash64('abc') AS m,
                 |farmFingerprint64('abc') AS fp, farmHash64('a', 'b') AS f2""".stripMargin)
      .collect()(0)
    def b(s: String) = s.getBytes("UTF-8")
    assert(r.getLong(0) === HashCompat.farmHash64(b("abc")))
    assert(r.getLong(1) === HashCompat.metroHash64(b("abc")))
    assert(r.getLong(2) === HashCompat.farmFingerprint64(b("abc")))
    // multi-arg folds with Hash128to64 (the reference's farm combine)
    assert(r.getLong(3) === HashCompat.cityCombine(
      HashCompat.farmHash64(b("a")), HashCompat.farmHash64(b("b"))))
  }

  test("punycode: delimiter at index 0 splits an empty basic part; overflow returns NULL via try") {
    // RFC 3492 §3.1: "-<encoded>" has an empty basic string. Round-trip a
    // pure-non-ASCII label (its encoding starts with no basic part).
    val r = ch("""SELECT punycodeEncode('日本') AS pe,
                 |punycodeDecode(punycodeEncode('日本')) AS pd,
                 |tryPunycodeDecode('-') AS dash,
                 |tryPunycodeDecode('99999999b') AS ovf""".stripMargin).collect()(0)
    assert(r.getString(0) === "wgv71a") // no leading dash when basic part empty
    assert(r.getString(1) === "日本")
    assert(r.getString(2) === "") // "-" = empty basic part, empty encoded part
    // digit string driving i past Int range must NULL (not wrap to garbage)
    assert(r.isNullAt(3))
  }

  test("finalizeAggregation over intersect/not counts is the identity (composes like the reference)") {
    val r = ch(
      """WITH a AS (SELECT uniqThetaState(c_custkey) AS st FROM customer WHERE c_custkey < 100),
        |     b AS (SELECT uniqThetaState(c_custkey) AS st FROM customer WHERE c_custkey >= 50 AND c_custkey < 150)
        |SELECT finalizeAggregation(uniqThetaIntersect(a.st, b.st)) AS i,
        |       uniqThetaIntersect(a.st, b.st) AS i_raw,
        |       finalizeAggregation(uniqThetaNot(a.st, b.st)) AS d
        |FROM a, b""".stripMargin).collect()(0)
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(0) > 0 && r.getLong(2) > 0)
  }

  test("batch-17: theta set ops are exact unsaturated and ~2% accurate saturated") {
    import graft.aggregates.{KmvDistinctAggregator, ThetaSetOps}
    val agg = new KmvDistinctAggregator(ThetaSetOps.K)
    def sketch(xs: Range): Array[Long] = xs.foldLeft(agg.zero)((b, v) => agg.reduce(b, v.toLong))
    // unsaturated: exact
    val sa = sketch(0 until 600)
    val sb = sketch(300 until 900)
    assert(ThetaSetOps.unionCount(sa, sb) === 900L)
    assert(ThetaSetOps.intersectCount(sa, sb) === 300L)
    assert(ThetaSetOps.notCount(sa, sb) === 300L)
    // saturated: within a few percent (k=1024)
    val la = sketch(0 until 50000)
    val lb = sketch(25000 until 75000)
    val u = ThetaSetOps.unionCount(la, lb).toDouble
    val i = ThetaSetOps.intersectCount(la, lb).toDouble
    val d = ThetaSetOps.notCount(la, lb).toDouble
    assert(math.abs(u - 75000) / 75000 < 0.1, s"union $u")
    assert(math.abs(i - 25000) / 25000 < 0.15, s"intersect $i")
    assert(math.abs(d - 25000) / 25000 < 0.15, s"not $d")
  }

  test("batch-18: date/array tail") {
    val r = ch("""SELECT arrayLastIndex(__x -> __x > 1, [0, 2, 1, 3, 1]) AS ali,
                 |arrayLastIndex(__x -> __x > 9, [1, 2]) AS ali0,
                 |YYYYMMDDToDate(19960215) AS ymd,
                 |toString(toDate(str_to_date('15/02/1996', '%d/%m/%Y'))) AS std,
                 |addDate(toDate('1996-01-01'), INTERVAL 1 MONTH) AS ad,
                 |subDate(toDate('1996-03-01'), INTERVAL 29 DAY) AS sd,
                 |time_bucket(INTERVAL 15 MINUTE, toDateTime('1996-01-01 10:23:45')) AS tb,
                 |toStartOfISOYear(toDate('1996-06-15')) AS isoys,
                 |toStartOfISOYear(toDate('1995-01-01')) AS isoys_prev,
                 |toWeekYear(toDate('1995-01-01')) AS wy,
                 |toUnixTimestamp64Second(toDateTime('1970-01-02 00:00:00')) AS uts,
                 |fromUnixTimestamp64Second(86400) AS futs,
                 |parseDateTime64BestEffortOrNull('1996-02-15 10:00:00') AS p64,
                 |parseDateTime64OrZero('garbage') AS p64z""".stripMargin).collect()(0)
    assert(r.getAs[Number](0).longValue == 4L)
    assert(r.getAs[Number](1).longValue == 0L)
    assert(r.getDate(2).toString == "1996-02-15")
    assert(r.getString(3) == "1996-02-15")
    assert(r.getDate(4).toString == "1996-02-01")
    assert(r.getDate(5).toString == "1996-02-01")
    assert(r.getTimestamp(6).toString.startsWith("1996-01-01 10:15:00"))
    // 1996 ISO week 1 starts Monday 1996-01-01
    assert(r.getDate(7).toString == "1996-01-01")
    // 1995-01-01 is in ISO year 1994, which starts Monday 1994-01-03
    assert(r.getDate(8).toString == "1994-01-03")
    assert(r.getAs[Number](9).intValue == 1994)
    assert(r.getAs[Number](10).longValue == 86400L)
    assert(r.getTimestamp(11).toString.startsWith("1970-01-02 00:00:00"))
    assert(r.getTimestamp(12).toString.startsWith("1996-02-15 10:00:00"))
    assert(r.getTimestamp(13).toString.startsWith("1970-01-01 00:00:00"))
  }

  test("batch-18: bitmap subsets and OrNull modulo") {
    val r = ch("""SELECT bitmapSubsetInRange(bitmapBuild([1,5,9,13,17]), 5, 14) AS sir,
                 |bitmapSubsetLimit(bitmapBuild([1,5,9,13,17]), 5, 2) AS sl,
                 |subBitmap(bitmapBuild([1,5,9,13,17]), 1, 3) AS sub,
                 |bitmapToArray(bitmapTransform(bitmapBuild([1,5,9]), [5], [50])) AS bt,
                 |moduloOrNull(7, 0) AS m0,
                 |moduloOrNull(7, 3) AS m3,
                 |positiveModuloOrNull(-7, 3) AS pm""".stripMargin).collect()(0)
    assert(r.getSeq[Int](0) == Seq(5, 9, 13))
    assert(r.getSeq[Int](1) == Seq(5, 9))
    assert(r.getSeq[Int](2) == Seq(5, 9, 13))
    assert(r.getSeq[Int](3) == Seq(1, 9, 50))
    assert(r.isNullAt(4))
    assert(r.getAs[Number](5).intValue == 1)
    assert(r.getAs[Number](6).intValue == 2)
  }

  test("batch-18: toWeek/toYearWeek MySQL modes 0 and 3") {
    val r = ch("""SELECT toWeek(toDate('1996-01-01')) AS w_jan1,
                 |toWeek(toDate('1996-01-07')) AS w_firstsun,
                 |toWeek(toDate('1996-07-04')) AS w_jul4,
                 |toWeek(toDate('1996-01-01'), 3) AS w_iso,
                 |toYearWeek(toDate('1996-01-01')) AS yw_jan1,
                 |toYearWeek(toDate('1996-01-07')) AS yw_firstsun,
                 |toYearWeek(toDate('1996-01-01'), 3) AS yw_iso,
                 |week(toDate('1996-01-07')) AS w_alias,
                 |yearweek(toDate('1996-01-07')) AS yw_alias""".stripMargin).collect()(0)
    // 1996-01-01 is a Monday; first Sunday of 1996 is Jan 7 -> week 0
    assert(r.getAs[Number](0).intValue == 0)
    assert(r.getAs[Number](1).intValue == 1)
    // Jan 7 + 25 full weeks = Jul 4 week 26 (MySQL WEEK('1996-07-04') = 26)
    assert(r.getAs[Number](2).intValue == 26)
    // ISO week of Monday Jan 1 1996 = 1
    assert(r.getAs[Number](3).intValue == 1)
    // YEARWEEK mode 0: Jan 1 1996 belongs to 1995's week 53 (first Sunday
    // of 1995 was Jan 1 1995; 365 days later = week 53)
    assert(r.getAs[Number](4).intValue == 199553)
    assert(r.getAs[Number](5).intValue == 199601)
    assert(r.getAs[Number](6).intValue == 199601)
    assert(r.getAs[Number](7).intValue == 1)
    assert(r.getAs[Number](8).intValue == 199601)
  }

  test("batch-19: conversion tail — UUID/IPv4/IPv6/Bool/FixedString") {
    val r = ch("""SELECT toUUIDOrNull('A0EEBC99-9C0B-4EF8-BB6D-6BB9BD380A11') AS u,
                 |toUUIDOrNull('not-a-uuid') AS u_bad,
                 |toUUIDOrZero('nope') AS u_zero,
                 |toIPv4OrNull('192.168.001.1') AS ip_canon,
                 |toIPv4OrNull('256.1.1.1') AS ip_bad,
                 |toIPv4OrZero('x') AS ip_zero,
                 |toIPv6OrNull('2001:0DB8:0000:0000:0000:0000:0000:0001') AS ip6,
                 |toIPv6OrNull('not::an::ip::addr') AS ip6_bad,
                 |toBool('Yes') AS b_yes, toBool('off') AS b_off,
                 |toBool('2') AS b_two, toBool('junk') AS b_bad,
                 |octet_length(toFixedString('ab', 5)) AS fx_len,
                 |toLowCardinality('x') AS lc""".stripMargin).collect()(0)
    assert(r.getString(0) == "a0eebc99-9c0b-4ef8-bb6d-6bb9bd380a11")
    assert(r.isNullAt(1))
    assert(r.getString(2) == "00000000-0000-0000-0000-000000000000")
    assert(r.getString(3) == "192.168.1.1")
    assert(r.isNullAt(4))
    assert(r.getString(5) == "0.0.0.0")
    assert(r.getString(6) == "2001:db8::1")
    assert(r.isNullAt(7))
    assert(r.getBoolean(8) && !r.getBoolean(9) && r.getBoolean(10))
    assert(r.isNullAt(11))
    assert(r.getAs[Number](12).intValue == 5)
    assert(r.getString(13) == "x")
  }

  test("batch-19: conversion tail — dates, decimals, wide ints, accurateCast") {
    val r = ch("""SELECT toDateOrZero('bogus') AS d_zero,
                 |toDateOrZero('2500-01-01') AS d_sat,
                 |toDate32OrNull('1850-06-01') AS d32_sat_lo,
                 |toDateTimeOrZero('2020-05-06 07:08:09') AS dt,
                 |toDecimal64OrNull('12.345', 2) AS dec_ok,
                 |toDecimal32OrZero('zz', 3) AS dec_zero,
                 |toInt128OrNull('-170141183460469231731687303715884105') AS i128,
                 |toUInt256OrZero('bad') AS u256,
                 |accurateCastOrNull(300, 'UInt8') AS acc_over,
                 |accurateCastOrNull(200, 'UInt8') AS acc_ok,
                 |timeZone() AS tz,
                 |timeZoneOffset(toDateTime('2020-06-01 00:00:00')) AS tzo,
                 |toModifiedJulianDayOrNull('1858-11-18') AS mjd1,
                 |fromModifiedJulianDayOrNull('1') AS from_mjd""".stripMargin).collect()(0)
    assert(r.getDate(0).toString == "1970-01-01")
    assert(r.getDate(1).toString == "2149-06-06")
    assert(r.getDate(2).toString == "1900-01-01")
    assert(r.getTimestamp(3).toString.startsWith("2020-05-06 07:08:09"))
    assert(r.getDecimal(4).toString == "12.34" || r.getDecimal(4).toString == "12.35")
    assert(r.getDecimal(5).intValue == 0)
    assert(r.getDecimal(6).toString == "-170141183460469231731687303715884105")
    assert(r.getDecimal(7).intValue == 0)
    assert(r.isNullAt(8))
    assert(r.getAs[Number](9).longValue == 200L)
    assert(r.getString(10) == "UTC")
    assert(r.getAs[Number](11).longValue == 0L)
    assert(r.getAs[Number](12).intValue == 1)
    assert(r.getDate(13).toString == "1858-11-18")
  }

  test("batch-19: functional operator forms") {
    val r = ch("""SELECT equals(1 + 1, 2) AS eq, notEquals(3, 4) AS ne,
                 |less(1, 2) AS lt, greater(2, 1) AS gt,
                 |lessOrEquals(2, 2) AS le, greaterOrEquals(1, 2) AS ge,
                 |and(equals(1, 1), less(0, 1), greater(5, 4)) AS a3,
                 |or(equals(1, 2), equals(2, 2)) AS o2,
                 |not(equals(1, 2)) AS n,
                 |xor(equals(1, 1), equals(2, 3)) AS x""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8) && r.getBoolean(9))
    // the infix keyword written without a space must NOT be mangled
    val n = ch("SELECT count() AS n FROM orders WHERE o_orderkey > 0 and(o_orderkey % 2) = 0")
      .collect()(0).getLong(0)
    assert(n > 0)
  }

  test("batch-20: fuzzy match, multiMatchAllIndices, compareSubstrings") {
    val r = ch("""SELECT multiFuzzyMatchAny('hello world', 1, ['wprld']) AS f1,
                 |multiFuzzyMatchAny('hello world', 0, ['wprld']) AS f0,
                 |multiFuzzyMatchAny('hello world', 2, ['xxxxx']) AS fno,
                 |multiFuzzyMatchAnyIndex('hello world', 1, ['zzz', 'wprld']) AS fi,
                 |multiFuzzyMatchAllIndices('banana bread', 1, ['banana', 'bananna', 'xyzzy']) AS fall,
                 |multiMatchAllIndices('abcdef', ['^a', 'xyz', 'def$']) AS mm,
                 |compareSubstrings('abcdef', 'abcxef', 0, 0, 3) AS c_eq,
                 |compareSubstrings('abcdef', 'abcxef', 0, 0, 4) AS c_lt,
                 |compareSubstrings('xbc', 'abc', 0, 0, 1) AS c_gt,
                 |compareSubstrings('ab', 'abc', 0, 0, 5) AS c_clip""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1) && !r.getBoolean(2))
    assert(r.getAs[Number](3).intValue == 2)
    assert(r.getSeq[Long](4) == Seq(1L, 2L))
    assert(r.getSeq[Long](5) == Seq(1L, 3L))
    assert(r.getAs[Number](6).intValue == 0)
    assert(r.getAs[Number](7).intValue == -1)
    assert(r.getAs[Number](8).intValue == 1)
    assert(r.getAs[Number](9).intValue == -1)
  }

  test("batch-20: bin/unbin, bitSlice, byteSlice, decodeHTML, jaccardUTF8") {
    val r = ch("""SELECT bin(toUInt8(5)) AS b8,
                 |bin('a') AS bs,
                 |bin(260) AS b260,
                 |unbin('0011000100110010') AS ub,
                 |unbin('0110') AS ub_pad,
                 |byteSlice('hello world', 7, 5) AS bysl,
                 |bitSlice('a', 1, 4) AS bitsl_hi,
                 |decodeHTMLComponent('&lt;b&gt; &amp; &#65;&#x42; &unknown; &copy;') AS dec,
                 |stringJaccardIndexUTF8('abc', 'bcd') AS jac""".stripMargin).collect()(0)
    assert(r.getString(0) == "00000101")
    assert(r.getString(1) == "01100001")
    assert(r.getString(2) == "0000000100000100") // 260 = 0x0104, two bytes
    assert(r.getString(3) == "12")
    assert(r.getString(4).getBytes("ISO-8859-1").toSeq == Seq(6.toByte))
    assert(r.getString(5) == "world")
    // 'a' = 01100001; first 4 bits 0110, zero-padded -> 01100000 = 0x60
    assert(r.getString(6).getBytes("ISO-8859-1").toSeq == Seq(0x60.toByte))
    assert(r.getString(7) == "<b> & AB &unknown; ©")
    assert(math.abs(r.getDouble(8) - 0.5) < 1e-12)
  }

  test("batch-21: tuple arithmetic and tuple introspection") {
    val r = ch("""SELECT tuplePlus(tuple(1, 2.5), tuple(10, 0.5)) AS tp,
                 |vectorSum(tuple(1, 2), tuple(3, 4)) AS vs,
                 |tupleMinus(tuple(10, 10), tuple(1, 4)) AS tm,
                 |tupleDivide(tuple(10, 9), tuple(4, 3)) AS td,
                 |tupleIntDiv(tuple(10, 9), tuple(4, 3)) AS tid,
                 |tupleMultiplyByNumber(tuple(2, 3), 5) AS tmn,
                 |tupleNegate(tuple(1, -2.5)) AS tn,
                 |tupleConcat(tuple(1, 2), tuple(3)) AS tc,
                 |tupleNames(tuple(7, 8)) AS names,
                 |tupleHammingDistance(tuple(1, 2, 3), tuple(1, 9, 3)) AS thd,
                 |flattenTuple(tuple(1, tuple(2, 3))) AS ft,
                 |tupleToNameValuePairs(tuple(5, 6)) AS nvp""".stripMargin).collect()(0)
    assert(r.getStruct(0).getLong(0) == 11L && r.getStruct(0).getDouble(1) == 3.0)
    assert(r.getStruct(1).getLong(0) == 4L && r.getStruct(1).getLong(1) == 6L)
    assert(r.getStruct(2).getLong(0) == 9L && r.getStruct(2).getLong(1) == 6L)
    assert(r.getStruct(3).getDouble(0) == 2.5 && r.getStruct(3).getDouble(1) == 3.0)
    assert(r.getStruct(4).getLong(0) == 2L && r.getStruct(4).getLong(1) == 3L)
    assert(r.getStruct(5).getLong(0) == 10L && r.getStruct(5).getLong(1) == 15L)
    assert(r.getStruct(6).getLong(0) == -1L && r.getStruct(6).getDouble(1) == 2.5)
    assert(r.getStruct(7).getAs[Number](0).longValue == 1L &&
      r.getStruct(7).getAs[Number](2).longValue == 3L)
    assert(r.getSeq[String](8) == Seq("1", "2"))
    assert(r.getAs[Number](9).intValue == 1)
    assert(r.getStruct(10).getAs[Number](0).longValue == 1L &&
      r.getStruct(10).getAs[Number](2).longValue == 3L)
    val nvp = r.getSeq[org.apache.spark.sql.Row](11)
    assert(nvp.map(_.getString(0)) == Seq("1", "2"))
    assert(nvp.map(_.getDouble(1)) == Seq(5.0, 6.0))
  }

  test("batch-21: array tail — PRAUC, reduceInRanges, normalize, shuffle") {
    val r = ch("""SELECT arrayPRAUC([0.1, 0.4, 0.35, 0.8], [0, 0, 1, 1]) AS prauc,
                 |arrayReduceInRanges('sum', [tuple(1, 3), tuple(2, 4)], [1, 2, 3, 4, 5]) AS rir,
                 |arrayReduceInRanges('max', [tuple(1, 5)], [3, 1, 4, 1, 5]) AS rirm,
                 |emptyArrayToSingle(arrayFilter(x -> x > 99, [1, 2])) AS eas,
                 |emptyArrayToSingle([7]) AS eas_keep,
                 |normalizeL2([3.0, 4.0]) AS nl2,
                 |normalizeL1([2.0, 2.0]) AS nl1,
                 |normalizeLinf([2.0, -4.0]) AS nlinf,
                 |LpNorm([3.0, 4.0], 2) AS lp2,
                 |LpDistance([1.0, 2.0], [4.0, 6.0], 2) AS lpd,
                 |array_sort(arrayPartialShuffle([1, 2, 3, 4, 5], 2, 42)) AS shuf,
                 |arrayPartialReverseSort(2, [3, 1, 2]) AS prs,
                 |arrayEnumerateUniqRanked([10, 20, 10]) AS eur,
                 |mapAll((k, v) -> v > 0, map(1, 5, 2, 6)) AS ma,
                 |mapPartialSort(2, map(2, 'b', 1, 'a')) AS mps""".stripMargin).collect()(0)
    // reference example: arrayPRAUC([0.1,0.4,0.35,0.8],[0,0,1,1]) = 0.8333…
    assert(math.abs(r.getDouble(0) - 0.8333333333333333) < 1e-9)
    assert(r.getSeq[Double](1) == Seq(6.0, 14.0))
    assert(r.getSeq[Int](2) == Seq(5))
    assert(r.getSeq[Int](3) == Seq(0))
    assert(r.getSeq[Int](4) == Seq(7))
    assert(r.getSeq[Double](5) == Seq(0.6, 0.8))
    assert(r.getSeq[Double](6) == Seq(0.5, 0.5))
    assert(r.getSeq[Double](7) == Seq(0.5, -1.0))
    assert(math.abs(r.getDouble(8) - 5.0) < 1e-12)
    assert(math.abs(r.getDouble(9) - 5.0) < 1e-12)
    assert(r.getSeq[Int](10) == Seq(1, 2, 3, 4, 5))
    assert(r.getSeq[Int](11) == Seq(3, 2, 1))
    assert(r.getSeq[Int](12) == Seq(1, 1, 2))
    assert(r.getBoolean(13))
    assert(r.getMap[Int, String](14).toSeq.sorted == Seq(1 -> "a", 2 -> "b"))
  }

  test("batch-22: context constants and block introspection") {
    val r = ch("""SELECT hostName() AS h, FQDN() AS f, uptime() AS up,
                 |queryID() AS qid, tcpPort() AS port, shardNum() AS sn,
                 |shardCount() AS sc, serverUUID() AS suid,
                 |DATABASE() AS db, user() AS u,
                 |visibleWidth(12345) AS vw,
                 |byteSize(CAST(1 AS INT)) AS bs_i,
                 |byteSize('hello') AS bs_s,
                 |byteSize(CAST(1 AS INT), 'hello') AS bs_2,
                 |throwIf(1 > 2, 'nope') AS ti,
                 |indexHint(o_orderkey > 5) AS ih,
                 |isNullable(42) AS nn,
                 |isConstant(42) AS const_lit,
                 |isConstant(o_orderkey) AS const_col,
                 |defaultValueOfArgumentType(1.5) AS dv,
                 |defaultValueOfTypeName('Int32') AS dvt,
                 |isDecimalOverflow(CAST(999999999.99 AS DECIMAL(18,2)), 9) AS ovf,
                 |isDecimalOverflow(CAST(1.5 AS DECIMAL(9,2))) AS ovf_self,
                 |parseTimeDelta('11hr 25min 3.1s') AS ptd,
                 |parseTimeDelta('1yr2mo') AS ptd2,
                 |isIPAddressInRange('192.168.1.5', '192.168.0.0/16') AS in4,
                 |isIPAddressInRange('192.169.1.5', '192.168.0.0/16') AS out4,
                 |isIPAddressInRange('2001:db8::1', '2001:db8::/32') AS in6,
                 |isIPAddressInRange('2001:db9::1', '2001:db8::/32') AS out6,
                 |isIPAddressInRange('192.168.1.5', '2001:db8::/32') AS cross46
                 |FROM orders LIMIT 1""".stripMargin).collect()(0)
    assert(r.getString(0).nonEmpty && r.getString(1).nonEmpty)
    assert(r.getLong(2) >= 0L)
    assert(r.getString(3).matches("[0-9a-f-]{36}"))
    assert(r.getInt(4) == 9000 && r.getInt(5) == 1 && r.getInt(6) == 1)
    assert(r.getString(7).matches("[0-9a-f-]{36}"))
    assert(r.getString(8).nonEmpty && r.getString(9).nonEmpty)
    assert(r.getInt(10) == 5)
    assert(r.getLong(11) == 4L && r.getLong(12) == 14L && r.getLong(13) == 18L)
    assert(r.getInt(14) == 0)
    assert(r.getInt(15) == 1)
    assert(!r.getBoolean(16)) // a literal is not nullable
    assert(r.getBoolean(17) && !r.getBoolean(18))
    assert(r.getDouble(19) == 0.0) // non-nullable Float64 default
    assert(r.getInt(20) == 0)
    assert(r.getBoolean(21)) // 99999999999 unscaled = 11 digits > 9
    assert(!r.getBoolean(22))
    assert(math.abs(r.getDouble(23) - (11 * 3600 + 25 * 60 + 3.1)) < 1e-9)
    assert(math.abs(r.getDouble(24) - (365 * 86400 + 2 * 30.5 * 86400)) < 1e-6)
    assert(r.getBoolean(25) && !r.getBoolean(26))
    assert(r.getBoolean(27) && !r.getBoolean(28) && !r.getBoolean(29))
  }

  test("batch-22: URL RFC/Custom tail, runningDifference, keyed sipHash") {
    graft.sqlfront.ChSql.registerTldList("mytlds", Seq("co.uk", "com.au"))
    val r = ch("""SELECT
                 |cutToFirstSignificantSubdomainCustom('https://sub.example.co.uk/x', 'mytlds') AS c1,
                 |firstSignificantSubdomainCustom('https://sub.example.co.uk/x', 'mytlds') AS f1,
                 |cutToFirstSignificantSubdomainCustom('https://news.ycombinator.com/x', 'mytlds') AS c2,
                 |cutToFirstSignificantSubdomainRFC('https://a.b.example.com/') AS rfc,
                 |cutToFirstSignificantSubdomainWithWWW('https://www.example.com/') AS www,
                 |domainRFC('https://x.example.org/p') AS dom,
                 |sipHash64Keyed((0, 0), 'abc') AS sk0,
                 |sipHash64('abc') AS s0,
                 |sipHash64Keyed((1, 2), 'abc') AS sk12,
                 |timestamp('2020-01-01', '10:30:00') AS ts2""".stripMargin).collect()(0)
    assert(r.getString(0) == "example.co.uk")
    assert(r.getString(1) == "example")
    assert(r.getString(2) == "ycombinator.com")
    assert(r.getString(3) == "example.com")
    assert(r.getString(4) == "www.example.com")
    assert(r.getString(5) == "x.example.org")
    assert(r.getLong(6) == r.getLong(7)) // zero key == unkeyed
    assert(r.getLong(8) != r.getLong(7))
    assert(r.getTimestamp(9).toString.startsWith("2020-01-01 10:30:00"))
    // runningDifference over an ordered subquery
    val diffs = ch("""SELECT runningDifference(o_orderkey) AS d FROM
                     |(SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 5)""".stripMargin)
      .collect().map(_.getLong(0))
    assert(diffs.head == 0L && diffs.tail.forall(_ > 0L))
  }

  test("batch-23: digests pin their published test vectors") {
    val r = ch("""SELECT lower(hex(MD4(''))) AS md4_e, lower(hex(MD4('abc'))) AS md4_abc,
                 |lower(hex(RIPEMD160(''))) AS rip_e, lower(hex(RIPEMD160('abc'))) AS rip_abc,
                 |lower(hex(keccak256(''))) AS kec_e, lower(hex(keccak256('abc'))) AS kec_abc,
                 |lower(hex(SHA512_256(''))) AS sh_e,
                 |lower(hex(BLAKE3(''))) AS b3_e,
                 |lower(hex(BLAKE3('abc'))) AS b3_abc,
                 |length(hex(BLAKE3(repeat('a', 5000)))) AS b3_long_len""".stripMargin).collect()(0)
    // RFC 1320 appendix A.5
    assert(r.getString(0) == "31d6cfe0d16ae931b73c59d7e0c089c0")
    assert(r.getString(1) == "a448017aaf21d8525fc10ae87aa6729d")
    // Dobbertin/Bosselaers/Preneel published vectors
    assert(r.getString(2) == "9c1185a5c5e9fc54612808977ee8f548b2258d31")
    assert(r.getString(3) == "8eb208f7e05d987a9b044a8e98c6b087f15a0bfc")
    // the Keccak (pre-NIST padding) empty/abc digests
    assert(r.getString(4) == "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470")
    assert(r.getString(5) == "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45")
    // FIPS 180-4 SHA-512/256("")
    assert(r.getString(6) == "c672b8d1ef56ed28ab87c3622c5114069bdd3ad7b8f9737498d0c01ecef0967a")
    // BLAKE3: the 'abc' assertion below anchors the implementation
    // against the official vector; the empty-input digest is pinned as
    // computed by the anchored core
    assert(r.getString(7) == "af1349b9f5f9a1a6a0404dea36dcc9499bcb25c9adc112b7cc9a93cae41f3262")
    // the official BLAKE3 'abc' vector (256-bit independent anchor)
    assert(r.getString(8) == "6437b3ac38465133ffb63b75273a8db548c558465d79db03fd359c6cd5bd9d85")
    assert(r.getInt(9) == 64)
  }

  test("batch-23: consistent hash, URLHash, random/id tail") {
    val r = ch("""SELECT kostikConsistentHash(7045690984833335023, 2) AS k2,
                 |kostikConsistentHash(7045690984833335023, 32768) AS kmax,
                 |yandexConsistentHash(0, 5) AS k0,
                 |URLHash('http://example.com/path/') AS uh_slash,
                 |URLHash('http://example.com/path') AS uh_plain,
                 |cityHash64('http://example.com/path') AS ch_plain,
                 |length(generateULID()) AS ulid_len,
                 |generateSerialID('q23test') AS ser0,
                 |generateSerialID('q23test') AS ser1,
                 |length(randomFixedString(8)) AS rfs_len,
                 |length(randomStringUTF8(12)) AS rsu_len,
                 |octet_length(fuzzBits('aaaaaaaa', 0.0)) AS fb_len,
                 |rand32() >= 0 AS r32""".stripMargin).collect()(0)
    val k2 = r.getInt(0)
    assert(k2 >= 0 && k2 < 2)
    assert(r.getInt(1) >= 0 && r.getInt(1) < 32768)
    assert(r.getInt(2) >= 0 && r.getInt(2) < 5)
    // one trailing slash is dropped before hashing
    assert(r.getLong(3) == r.getLong(5))
    assert(r.getLong(4) == r.getLong(5))
    assert(r.getInt(6) == 26)
    // monotonic per-name counter
    assert(r.getLong(8) == r.getLong(7) + 1)
    assert(r.getInt(9) == 8)
    assert(r.getInt(10) == 12)
    assert(r.getInt(11) == 8)
    assert(r.getBoolean(12))
    // consistency property: moving n=8 -> n=16 only ever moves keys INTO
    // the new buckets [8, 16), never between old ones
    val moved = ch("""SELECT count() AS n FROM (
                     |SELECT kostikConsistentHash(sipHash64(toString(number)), 8) AS b8,
                     |       kostikConsistentHash(sipHash64(toString(number)), 16) AS b16
                     |FROM (SELECT explode(sequence(1, 2000)) AS number)) WHERE b8 <> b16 AND b16 < 8""".stripMargin)
      .collect()(0).getLong(0)
    assert(moved == 0L)
  }

  test("batch-24: typed dictGet family and dictHas") {
    ch("""CREATE DICTIONARY segdict (c_custkey UInt64, c_mktsegment String)
         |PRIMARY KEY c_custkey
         |SOURCE(CLICKHOUSE(TABLE 'customer')) LAYOUT(HASHED()) LIFETIME(0)""".stripMargin)
    val r = ch("""SELECT dictGetString('segdict', 'c_mktsegment', 7) AS seg,
                 |dictGetInt64('segdict', 'c_nationkey', 7) AS nk,
                 |dictGetFloat64('segdict', 'c_acctbal', 7) AS bal,
                 |dictGetStringOrDefault('segdict', 'c_mktsegment', -1, 'none') AS seg_d,
                 |dictGetOrNull('segdict', 'c_mktsegment', -1) AS seg_n,
                 |dictHas('segdict', 7) AS has7,
                 |dictHas('segdict', -1) AS has_neg""".stripMargin).collect()(0)
    assert(r.getString(0).nonEmpty)
    assert(r.getLong(1) >= 0)
    assert(r.getString(3) == "none")
    assert(r.isNullAt(4))
    assert(r.getBoolean(5) && !r.getBoolean(6))
  }

  test("batch-24: BestEffortUS, Joda Or*, toInterval, bfloat16, window view") {
    val r = ch("""SELECT parseDateTimeBestEffortUS('06/15/2020 10:30:00') AS us,
                 |parseDateTimeBestEffortUSOrNull('junk') AS us_null,
                 |parseDateTime64BestEffortUSOrZero('junk', 3) AS us_zero,
                 |parseDateTimeInJodaSyntaxOrNull('2020x06x15', 'yyyy''x''MM''x''dd') AS joda,
                 |parseDateTimeInJodaSyntaxOrNull('junk', 'yyyy-MM-dd') AS joda_null,
                 |(toDate('2020-01-01') + toInterval(3, 'month')) AS iv_m,
                 |toBFloat16(1.3984375) AS bf_exact,
                 |toBFloat16(0.3) AS bf_rounded,
                 |toBFloat16OrZero('xyz') AS bf_zero,
                 |parseReadableSizeOrNull('2 KiB') AS prs,
                 |parseReadableSizeOrNull('junk') AS prs_null,
                 |tumbleStart(toDateTime('2020-01-01 10:17:23'), INTERVAL 10 MINUTE) AS ts,
                 |tumbleEnd(toDateTime('2020-01-01 10:17:23'), INTERVAL 10 MINUTE) AS te,
                 |tumble(toDateTime('2020-01-01 10:17:23'), INTERVAL 10 MINUTE).start AS tw_s,
                 |hopStart(toDateTime('2020-01-01 10:17:23'), INTERVAL 5 MINUTE, INTERVAL 10 MINUTE) AS hs,
                 |hopEnd(toDateTime('2020-01-01 10:17:23'), INTERVAL 5 MINUTE, INTERVAL 10 MINUTE) AS he,
                 |windowID(toDateTime('2020-01-01 10:17:23'), INTERVAL 10 MINUTE) AS wid,
                 |tryBase64Decode('aGVsbG8=') AS b64_ok,
                 |tryBase64Decode('!!!bad') AS b64_bad""".stripMargin).collect()(0)
    assert(r.getTimestamp(0).toString.startsWith("2020-06-15 10:30:00"))
    assert(r.isNullAt(1))
    assert(r.getTimestamp(2).toString.startsWith("1970-01-01 00:00:00"))
    assert(r.getTimestamp(3).toString.startsWith("2020-06-15 00:00:00"))
    assert(r.isNullAt(4))
    assert(r.getDate(5).toString == "2020-04-01")
    assert(r.getFloat(6) == 1.3984375f) // exactly representable in bf16
    assert(r.getFloat(7) == 0.30078125f) // 0.3 rounds to the bf16 grid
    assert(r.getFloat(8) == 0.0f)
    assert(r.getDouble(9) == 2048.0)
    assert(r.isNullAt(10))
    assert(r.getTimestamp(11).toString.startsWith("2020-01-01 10:10:00"))
    assert(r.getTimestamp(12).toString.startsWith("2020-01-01 10:20:00"))
    assert(r.getTimestamp(13).toString.startsWith("2020-01-01 10:10:00"))
    assert(r.getTimestamp(14).toString.startsWith("2020-01-01 10:15:00"))
    assert(r.getTimestamp(15).toString.startsWith("2020-01-01 10:25:00"))
    assert(r.getLong(16) == r.getTimestamp(12).getTime / 1000)
    assert(r.getString(17) == "hello")
    // tryBase64Decode returns the EMPTY STRING on malformed input
    // (reference FunctionBase64Conversion), not NULL
    assert(r.getString(18) == "")
  }

  test("batch-25: S2 cell ids — faces, round trips, neighbors, caps, rects") {
    import graft.functions.S2Cells
    // cube-face assignment per the public scheme
    assert((S2Cells.geoToS2(0, 0) >>> 61) == 0)
    assert((S2Cells.geoToS2(90, 0) >>> 61) == 1)
    assert((S2Cells.geoToS2(0, 90) >>> 61) == 2)
    assert((S2Cells.geoToS2(180, 0) >>> 61) == 3)
    assert((S2Cells.geoToS2(-90, 0) >>> 61) == 4)
    assert((S2Cells.geoToS2(0, -90) >>> 61) == 5)
    // leaf ids end in 1
    assert((S2Cells.geoToS2(12.34, 56.78) & 1L) == 1L)
    // round trip at leaf resolution (~1e-7 deg cell size)
    for ((lon, lat) <- Seq((0.0, 0.0), (12.34, 56.78), (-122.41, 37.77),
        (179.99, -45.0), (-179.99, 85.0), (44.99, 0.01), (135.0, 35.0))) {
      val (lon2, lat2) = S2Cells.s2ToGeo(S2Cells.geoToS2(lon, lat))
      assert(math.abs(lon2 - lon) < 1e-5 && math.abs(lat2 - lat) < 1e-5,
        s"roundtrip drift at ($lon, $lat) -> ($lon2, $lat2)")
    }
    // 4 distinct adjacent edge neighbors, even across a face boundary
    for (id <- Seq(S2Cells.geoToS2(12.34, 56.78), S2Cells.geoToS2(44.9999999, 0.0))) {
      val ns = S2Cells.neighbors(id)
      assert(ns.length == 4 && ns.distinct.length == 4 && !ns.contains(id))
      for (n <- ns) assert(S2Cells.angleDeg(id, n) < 1e-5)
    }
    // containment-range intersection
    val a = S2Cells.geoToS2(10, 10)
    assert(S2Cells.cellsIntersect(a, a))
    assert(!S2Cells.cellsIntersect(a, S2Cells.geoToS2(-100, -40)))
    // a parent cell (level 29: clear the trailing 1, set the next lsb)
    val parent = (a & ~3L) | 2L
    assert(S2Cells.cellsIntersect(a, parent) && S2Cells.cellsIntersect(parent, a))
    // caps
    val c = S2Cells.geoToS2(20, 20)
    val p1 = S2Cells.geoToS2(20.5, 20)
    assert(S2Cells.capContains(c, 1.0, p1) && !S2Cells.capContains(c, 0.2, p1))
    val (uc, ur) = S2Cells.capUnion(c, 0.3, p1, 0.3)
    assert(ur >= 0.3 && S2Cells.capContains(uc, ur + 1e-9, c) &&
      S2Cells.capContains(uc, ur + 1e-9, p1))
    // rects
    val lo = S2Cells.geoToS2(10, 10)
    val hi = S2Cells.geoToS2(12, 13)
    assert(S2Cells.rectContains(lo, hi, S2Cells.geoToS2(11, 12)))
    assert(!S2Cells.rectContains(lo, hi, S2Cells.geoToS2(14, 12)))
    val (lo2, hi2) = S2Cells.rectAdd(lo, hi, S2Cells.geoToS2(14, 9))
    assert(S2Cells.rectContains(lo2, hi2, S2Cells.geoToS2(14, 12)))
    assert(S2Cells.rectIntersection(lo, hi,
      S2Cells.geoToS2(11, 11), S2Cells.geoToS2(20, 20)).isDefined)
    assert(S2Cells.rectIntersection(lo, hi,
      S2Cells.geoToS2(50, 50), S2Cells.geoToS2(60, 60)).isEmpty)
    // SQL surface
    val r = ch("""SELECT geoToS2(12.34, 56.78) AS id,
                 |tupleElement(s2ToGeo(geoToS2(12.34, 56.78)), 1) AS lon,
                 |size(s2GetNeighbors(geoToS2(12.34, 56.78))) AS nn,
                 |s2CellsIntersect(geoToS2(1, 2), geoToS2(1, 2)) AS ix,
                 |s2CapContains(geoToS2(20, 20), 1.0, geoToS2(20.5, 20)) AS cap,
                 |tupleElement(s2CapUnion(geoToS2(20, 20), 0.3, geoToS2(20.5, 20), 0.3), 2) AS ur,
                 |s2RectContains(geoToS2(10, 10), geoToS2(12, 13), geoToS2(11, 12)) AS rc""".stripMargin)
      .collect()(0)
    assert(r.getLong(0) == S2Cells.geoToS2(12.34, 56.78))
    assert(math.abs(r.getDouble(1) - 12.34) < 1e-5)
    assert(r.getInt(2) == 4 && r.getBoolean(3) && r.getBoolean(4))
    assert(r.getDouble(5) >= 0.3 && r.getBoolean(6))
  }

  test("batch-26: MySQL-compat pack, JSON paths, getSubcolumn, file()") {
    val tmp = java.nio.file.Files.createTempFile("chsql-file", ".txt")
    java.nio.file.Files.writeString(tmp, "it's file content")
    val r = ch(s"""SELECT FORMAT_BYTES(1048576) AS fb,
                 |FROM_BASE64('aGVsbG8=') AS fb64,
                 |TO_BASE64('hello') AS tb64,
                 |TO_DAYS(toDate('1970-01-01')) AS td,
                 |FROM_DAYS(719528) AS fd,
                 |REGEXP_MATCHES('abc123', '[0-9]+') AS rm,
                 |DATE_DIFF('day', toDate('2020-01-01'), toDate('2020-02-01')) AS dd,
                 |MILLISECOND(toDateTime64('2020-01-01 00:00:00.123', 3)) AS ms,
                 |SUBSTRING_INDEX('a.b.c', '.', 2) AS si,
                 |arrayStringConcat(JSONAllPaths('{"a": {"b": 1}, "c": "x"}'), ',') AS paths,
                 |element_at(JSONAllPathsWithTypes('{"a": {"b": 1}, "c": "x"}'), 'a.b') AS ptype,
                 |getSubcolumn(tuple(7, 8), 'col1') AS sub,
                 |file('${tmp}') AS fc""".stripMargin).collect()(0)
    assert(r.getString(0).contains("MiB") || r.getString(0).contains("1.00"))
    assert(r.getString(1) == "hello")
    assert(r.getString(2) == "aGVsbG8=")
    assert(r.getAs[Number](3).longValue == 719528L)
    assert(r.getDate(4).toString == "1970-01-01")
    assert(r.getBoolean(5))
    assert(r.getAs[Number](6).longValue == 31L)
    assert(r.getAs[Number](7).intValue == 123)
    assert(r.getString(8) == "a.b")
    assert(r.getString(9) == "a.b,c")
    assert(r.getString(10) == "Int64")
    assert(r.getAs[Number](11).intValue == 7)
    assert(r.getString(12) == "it's file content")
    java.nio.file.Files.delete(tmp)
  }

  test("batch-27: gamma, charset, IPv6 CIDR, URL path tail, functional IN") {
    val r = ch("""SELECT tgamma(5.0) AS g5,
                 |tgamma(0.5) AS ghalf,
                 |lgamma(100.0) AS lg100,
                 |convertCharset('café', 'UTF-8', 'ISO-8859-1') AS conv,
                 |convertCharset(convertCharset('café', 'UTF-8', 'ISO-8859-1'), 'ISO-8859-1', 'UTF-8') AS conv_rt,
                 |tupleElement(IPv6CIDRToRange('2001:db8::1', 32), 1) AS cidr_lo,
                 |tupleElement(IPv6CIDRToRange('2001:db8::1', 32), 2) AS cidr_hi,
                 |path('https://ex.com/a/b?q=1') AS p,
                 |pathFull('https://ex.com/a/b?q=1') AS pf,
                 |basename('/usr/local/bin/tool') AS bn,
                 |IPv4NumToStringClassC(3232235777) AS classc,
                 |cutIPv6('2001:db8:1:2:3:4:5:6', 8, 2) AS cut6,
                 |in(5, (1, 3, 5)) AS fin,
                 |notIn(5, (1, 5)) AS fnotin,
                 |nullIn(NULL, (1, NULL)) AS fnullin,
                 |reinterpretAsUInt128(reinterpretAsString(42)) AS r128,
                 |reinterpretAsUUID(rightPad('abcdefgh12345678', 16, 'x')) AS ruuid,
                 |hasColumnInTable('default', 'part', 'p_brand') AS hc_yes,
                 |hasColumnInTable('default', 'part', 'zz') AS hc_no,
                 |partitionId(toDate('2020-01-15'), 7) AS pid
                 |""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 24.0) < 1e-10) // Gamma(5) = 4!
    assert(math.abs(r.getDouble(1) - math.sqrt(math.Pi)) < 1e-12)
    // lgamma(100) = log(99!) = 359.1342053695754
    assert(math.abs(r.getDouble(2) - 359.1342053695754) < 1e-9)
    assert(r.getString(4) == "café")
    assert(r.getString(5) == "2001:db8::")
    assert(r.getString(6) == "2001:db8:ffff:ffff:ffff:ffff:ffff:ffff")
    assert(r.getString(7) == "/a/b")
    assert(r.getString(8) == "/a/b?q=1")
    assert(r.getString(9) == "tool")
    assert(r.getString(10) == "192.168.1.xxx")
    assert(r.getString(11) == "2001:db8:1:2::") // last 8 bytes = 4 groups zeroed
    assert(r.getBoolean(12) && !r.getBoolean(13) && r.getBoolean(14))
    assert(r.getDecimal(15).longValue == 42L)
    assert(r.getString(16).matches("[0-9a-f-]{36}"))
    assert(r.getBoolean(17) && !r.getBoolean(18))
    // Date components render YYYYMMDD (reference MergeTreePartition)
    assert(r.getString(19) == "20200115-7")
    // the infix keyword written without a space keeps its meaning
    val n = ch("SELECT count() AS n FROM orders WHERE o_orderkey in(1, 2, 3)")
      .collect()(0).getLong(0)
    assert(n > 0 && n <= 3)
  }

  test("batch-28: detectLanguageMixed shares") {
    val r = ch("""SELECT map_keys(detectLanguageMixed(
                 |  'the quick brown fox and the lazy dog were friends')) AS ks,
                 |element_at(detectLanguageMixed(
                 |  'the quick brown fox and the lazy dog were friends'), 'en') AS en_share""".stripMargin)
      .collect()(0)
    assert(r.getSeq[String](0).contains("en"))
    assert(math.abs(r.getFloat(1) - 1.0f) < 1e-6)
  }

  test("batch-28: hierarchical dictionaries") {
    import spark.implicits._
    Seq((1L, 0L), (2L, 1L), (3L, 1L), (4L, 2L)).toDF("id", "parent")
      .createOrReplaceTempView("orgtbl")
    ch("""CREATE DICTIONARY hdict (id UInt64, parent UInt64 HIERARCHICAL)
         |PRIMARY KEY id
         |SOURCE(CLICKHOUSE(TABLE 'orgtbl')) LAYOUT(HASHED()) LIFETIME(0)""".stripMargin)
    val r = ch("""SELECT dictGetHierarchy('hdict', 4) AS h4,
                 |dictGetHierarchy('hdict', 1) AS h1,
                 |dictIsIn('hdict', 4, 1) AS in41,
                 |dictIsIn('hdict', 4, 3) AS in43,
                 |dictGetChildren('hdict', 1) AS c1,
                 |dictGetChildren('hdict', 4) AS c4,
                 |dictGetDescendants('hdict', 1) AS d1,
                 |dictGetDescendants('hdict', 1, 1) AS d1_lvl1""".stripMargin).collect()(0)
    assert(r.getSeq[Long](0) == Seq(4L, 2L, 1L))
    assert(r.getSeq[Long](1) == Seq(1L))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getSeq[Long](4) == Seq(2L, 3L))
    assert(r.getSeq[Long](5) == Seq())
    assert(r.getSeq[Long](6).sorted == Seq(2L, 3L, 4L))
    assert(r.getSeq[Long](7) == Seq(2L, 3L))
    ch("DROP DICTIONARY hdict")
  }

  test("batch-29: any skips NULLs, RespectNulls spellings keep them") {
    // single partition + in-order input: first/last arrival order is the
    // row order (reference semantics: any = first NON-NULL,
    // anyRespectNulls = first value including NULL)
    import spark.implicits._
    Seq[(Int, Option[String])](
      (1, None), (2, Some("b")), (3, Some("c")), (4, None))
      .toDF("i", "s").coalesce(1).createOrReplaceTempView("anytbl")
    val r = ch("""SELECT any(s) AS a, anyLast(s) AS al,
                 |anyRespectNulls(s) AS arn, lastValueRespectNulls(s) AS lrn
                 |FROM anytbl""".stripMargin).collect()(0)
    assert(r.getString(0) == "b") // first non-NULL
    assert(r.getString(1) == "c") // last non-NULL
    assert(r.isNullAt(2)) // first row IS NULL
    assert(r.isNullAt(3)) // last row IS NULL
  }

  test("batch-29: groupArrayLast keeps the last N in arrival order") {
    import spark.implicits._
    (1 to 7).map(i => (1, i * 10)).toDF("g", "x").coalesce(1)
      .createOrReplaceTempView("galtbl")
    val r = ch("SELECT groupArrayLast(3)(x) AS l3, groupArrayLast(9)(x) AS l9 FROM galtbl GROUP BY g")
      .collect()(0)
    assert(r.getSeq[Int](0) == Seq(50, 60, 70))
    assert(r.getSeq[Int](1) == (1 to 7).map(_ * 10))
  }

  test("batch-29: exact weighted quantile spellings match first principles") {
    // quantileExactWeighted: threshold = ceil(level * W), first sorted
    // value whose accumulated weight reaches it
    // (AggregateFunctionQuantileExactWeighted.cpp:165-174); values
    // (1,w1) (2,w2) (3,w3): W=6, thr=ceil(3.0)=3 -> cum 1,3,6 -> x=2
    import spark.implicits._
    Seq((1, 1), (2, 2), (3, 3)).toDF("x", "w").createOrReplaceTempView("qewtbl")
    val r = ch("""SELECT medianExactWeighted(x, w) AS m,
                 |quantileExactWeighted(0.9)(x, w) AS q9,
                 |toInt64(floor(medianInterpolatedWeighted(x, w) * 1000)) AS miw
                 |FROM qewtbl""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 2.0)
    assert(r.getDouble(1) == 3.0) // thr=ceil(5.4)=6 -> x=3
    // Wikipedia method: p_i = (cum-w/2)/W = (.5/6, 2/6, 4.5/6);
    // t=0.5 between p2=0.333 and p3=0.75 -> 2 + (3-2)*(.5-1/3)/(.75-1/3)
    assert(r.getLong(2) == math.floor((2.0 + (0.5 - 2.0 / 6) / (4.5 / 6 - 2.0 / 6)) * 1000).toLong)
  }

  test("batch-29: covarPopMatrix is the full symmetric n x n matrix") {
    import spark.implicits._
    Seq((1.0, 2.0, 3.0), (2.0, 4.0, 5.0), (4.0, 5.0, 6.0))
      .toDF("a", "b", "c").createOrReplaceTempView("cvmtbl")
    val m = ch("SELECT covarPopMatrix(a, b, c) AS m FROM cvmtbl")
      .collect()(0).getSeq[scala.collection.Seq[Double]](0)
    assert(m.length == 3 && m.forall(_.length == 3))
    for (i <- 0 until 3; j <- 0 until 3)
      assert(math.abs(m(i)(j) - m(j)(i)) < 1e-12)
    // diagonal = var_pop: a = (1,2,4), mean 7/3, m2 = (16+1+25)/27
    assert(math.abs(m(0)(0) - 42.0 / 27) < 1e-9)
  }

  test("batch-29: sumMap accepts a single Map argument; bare approx_top_k defaults") {
    import spark.implicits._
    Seq(Map(1 -> 10.0, 2 -> 20.0), Map(2 -> 5.0, 3 -> 7.0))
      .toDF("m").createOrReplaceTempView("smtbl")
    val r = ch("""SELECT sumMap(m).keys AS ks, sumMap(m).values AS vs FROM smtbl""")
      .collect()(0)
    assert(r.getSeq[Int](0) == Seq(1, 2, 3))
    assert(r.getSeq[Double](1) == Seq(10.0, 25.0, 7.0))
    // bare approx_top_k defaults to N=10; medianGK/medianDD route
    Seq(1, 1, 2, 3, 3, 3).toDF("x").createOrReplaceTempView("atkbare")
    val r2 = ch("""SELECT size(approx_top_k(x)) AS n,
                  |try_element_at(approx_top_k(x), 1).value AS top,
                  |medianGK(50)(x) AS mgk, medianDD(0.01)(x) AS mdd
                  |FROM atkbare""".stripMargin).collect()(0)
    assert(r2.getInt(0) == 3) // only 3 distinct values, N caps at 10
    assert(r2.getInt(1) == 3) // most frequent
    assert(r2.getInt(2) == 2)
    assert(math.abs(r2.getDouble(3) - 2.0) < 0.05) // DDSketch at 1% accuracy
  }

  test("batch-30: errorCodeToName covers the reference's builtin table") {
    val r = ch("""SELECT errorCodeToName(0) AS ok, errorCodeToName(60) AS t60,
                 |errorCodeToName(999999) AS unknown""".stripMargin).collect()(0)
    assert(r.getString(0) == "OK")
    assert(r.getString(1) == "UNKNOWN_TABLE") // ErrorCodes.cpp M(60, UNKNOWN_TABLE)
    assert(r.getString(2) == "")
    assert(graft.functions.Batch30.errorCodeNames.size > 600)
  }

  test("batch-30: initializeAggregation states merge with aggregated ones") {
    // a singleton uniqTheta state unions with a real aggregated state
    // and estimates the combined distinct count exactly (unsaturated)
    val r = ch("""WITH agg AS (SELECT uniqThetaState(n_nationkey) AS st FROM nation)
                 |SELECT finalizeAggregation(uniqThetaUnion(st,
                 |  initializeAggregation('uniqThetaState', 999))) AS merged,
                 |finalizeAggregation(uniqThetaUnion(st,
                 |  initializeAggregation('uniqThetaState', 3))) AS dup
                 |FROM agg""".stripMargin).collect()(0)
    assert(r.getLong(0) == 26L) // 25 nations + 1 new
    assert(r.getLong(1) == 25L) // 3 already counted
  }

  test("batch-30: kql_array_sort permutes parallel arrays") {
    val r = ch("""SELECT kql_array_sort_asc([3, 1, 2], ['c', 'a', 'b']) AS t,
                 |kql_array_sort_desc([3, 1, 2]) AS d""".stripMargin).collect()(0)
    val t = r.getStruct(0)
    assert(t.getSeq[Int](0) == Seq(1, 2, 3))
    assert(t.getSeq[String](1) == Seq("a", "b", "c"))
    assert(r.getStruct(1).getSeq[Int](0) == Seq(3, 2, 1))
  }

  test("batch-30: dynamicType classification and element extraction") {
    val r = ch("""SELECT dynamicType('42') AS a, dynamicType('3.5') AS b,
                 |dynamicType('true') AS c, dynamicType('hi') AS d,
                 |dynamicType(NULL) AS e,
                 |dynamicElement('42', 'Int64') AS f,
                 |dynamicElement('hi', 'Int64') AS g""".stripMargin).collect()(0)
    assert(r.getString(0) == "Int64" && r.getString(1) == "Float64")
    assert(r.getString(2) == "Bool" && r.getString(3) == "String")
    assert(r.getString(4) == "None")
    assert(r.getString(5) == "42" && r.isNullAt(6))
  }

  test("batch-31: timeSeriesRateToGrid matches hand-computed Prometheus extrapolation") {
    import spark.implicits._
    // samples (10,1) (20,2) (30,10); grid point 30, window 30:
    // si=20 n=3 adbs=10; dts=10 (<1.1*adbs) ; counter zero-clamp:
    // dzero=20*1/9=2.22 < 10; dte=0; factor=(20+2.222+0)/20/30
    // rate = 9 * 0.037037 = 1/3
    Seq((1L, 10L, 1.0), (1L, 20L, 2.0), (1L, 30L, 10.0))
      .toDF("g", "ts", "v").createOrReplaceTempView("tsg")
    val r = ch("""SELECT try_element_at(timeSeriesRateToGrid(30, 30, 10, 30)(ts, v), 1) AS ra,
                 |try_element_at(timeSeriesDeltaToGrid(30, 30, 10, 30)(ts, v), 1) AS de,
                 |try_element_at(timeSeriesInstantRateToGrid(30, 30, 10, 30)(ts, v), 1) AS ir,
                 |try_element_at(timeSeriesInstantDeltaToGrid(30, 30, 10, 30)(ts, v), 1) AS idl,
                 |try_element_at(timeSeriesResampleToGridWithStaleness(30, 30, 10, 30)(ts, v), 1) AS rs
                 |FROM tsg GROUP BY g""".stripMargin).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0 / 3.0) < 1e-12) // rate
    assert(math.abs(r.getDouble(1) - 13.5) < 1e-12) // delta: 9*(20+10+0)/20
    assert(math.abs(r.getDouble(2) - 0.8) < 1e-12) // irate: (10-2)/10
    assert(math.abs(r.getDouble(3) - 8.0) < 1e-12) // idelta
    assert(r.getDouble(4) == 10.0) // last value, fresh
    // counter reset: 5 -> 2 adds 5 to the accumulated resets
    Seq((1L, 10L, 5.0), (1L, 20L, 2.0), (1L, 30L, 4.0))
      .toDF("g", "ts", "v").createOrReplaceTempView("tsg2")
    val r2 = ch("""SELECT try_element_at(timeSeriesInstantRateToGrid(30, 30, 10, 30)(ts, v), 1) AS ir,
                  |try_element_at(timeSeriesInstantDeltaToGrid(30, 30, 10, 30)(ts, v), 1) AS idl
                  |FROM tsg2 GROUP BY g""".stripMargin).collect()(0)
    assert(math.abs(r2.getDouble(0) - 0.2) < 1e-12) // (4-2)/10, no reset
    assert(math.abs(r2.getDouble(1) - 2.0) < 1e-12)
    // stale: last sample older than the staleness window -> NULL
    val r3 = ch("""SELECT try_element_at(timeSeriesResampleToGridWithStaleness(100, 100, 10, 30)(ts, v), 1) AS rs
                  |FROM tsg2 GROUP BY g""".stripMargin).collect()(0)
    assert(r3.isNullAt(0))
  }

  test("batch-21: addTupleOfIntervals applies intervals left to right") {
    val r = ch("""SELECT addTupleOfIntervals(toDate('2018-01-01'),
                 |  (toIntervalDay(1), toIntervalMonth(1))) AS fwd,
                 |subtractTupleOfIntervals(toDate('2018-03-03'),
                 |  (toIntervalDay(2), toIntervalMonth(1))) AS back""".stripMargin).collect()(0)
    assert(r.getDate(0).toString == "2018-02-02")
    assert(r.getDate(1).toString == "2018-02-01")
  }

  test("r12: toDate integral split — day-num vs unix seconds vs negative") {
    // reference ToDateTransform32Or64: <=65535 day-num, >65535 seconds, <0 -> 0
    val r = ch("""SELECT toDate(17000) AS d1, toDate(1700000000) AS d2,
                 |toDate(-5) AS d3, toDate(65535) AS d4""".stripMargin).collect()(0)
    assert(r.getDate(0).toString == "2016-07-18")   // day 17000
    assert(r.getDate(1).toString == "2023-11-14")   // 1700000000 s
    assert(r.getDate(2).toString == "1970-01-01")   // saturated
    assert(r.getDate(3).toString == "2149-06-06")   // last day-num
  }

  test("r12: toDateTime with non-UTC tz renders the zone wall-clock") {
    val r = ch("""SELECT toDateTime('2000-01-02 03:04:05', 'Asia/Istanbul') AS s,
                 |toDateTime(0, 'Asia/Istanbul') AS n,
                 |toDateTime(1, 'UTC') AS u""".stripMargin).collect()(0)
    // string input: parse-in-tz/render-in-tz is identity
    assert(r.getTimestamp(0).toString.startsWith("2000-01-02 03:04:05"))
    // numeric input: instant 0 rendered in Istanbul (+02:00 in 1970)
    assert(r.getTimestamp(1).toString.startsWith("1970-01-01 02:00:00"))
    assert(r.getTimestamp(2).toString.startsWith("1970-01-01 00:00:01"))
  }

  test("r12: scalar WITH alias skips qualified refs and string literals") {
    val r = ch("""WITH 5 AS x
                 |SELECT t.x + x AS a, 'x marks' AS s
                 |FROM (SELECT 10 AS x) AS t""".stripMargin).collect()(0)
    assert(r.getInt(0) == 15 && r.getString(1) == "x marks")
  }

  test("r14: Collapsing FINAL follows recorded insert order across repartitioned blocks") {
    // reference CollapsingSortedAlgorithm merges parts in BLOCK-NUMBER
    // (insert) order; each insert block here is multi-partition, so a
    // partition-major tiebreak computed at read time is NOT trustworthy —
    // the order must come from the sequence recorded at INSERT
    ch("DROP TABLE IF EXISTS t_collseq")
    ch("CREATE TABLE t_collseq (k Int64, v Int64, sign Int8) " +
      "ENGINE = CollapsingMergeTree(sign) ORDER BY k")
    spark.range(0, 100)
      .selectExpr("id AS k", "CAST(1 AS BIGINT) AS v", "CAST(1 AS TINYINT) AS sign")
      .repartition(8).createOrReplaceTempView("src_collb1")
    ch("INSERT INTO t_collseq SELECT k, v, sign FROM src_collb1")
    // block 2 cancels every key and re-states keys 0..49 with v=2
    spark.range(0, 100)
      .selectExpr("id AS k", "CAST(1 AS BIGINT) AS v", "CAST(-1 AS TINYINT) AS sign")
      .unionAll(spark.range(0, 50)
        .selectExpr("id AS k", "CAST(2 AS BIGINT) AS v", "CAST(1 AS TINYINT) AS sign"))
      .repartition(8).createOrReplaceTempView("src_collb2")
    ch("INSERT INTO t_collseq SELECT k, v, sign FROM src_collb2")
    val got = ch("SELECT k, v FROM t_collseq FINAL ORDER BY k").collect()
    // keys 0..49: pos=2 > neg=1 -> keep the LAST positive (block 2, v=2);
    // keys 50..99: pos=neg, last row negative -> fully cancelled
    assert(got.length == 50, s"expected 50 surviving keys, got ${got.length}")
    assert(got.forall(r => r.getLong(0) < 50 && r.getLong(1) == 2L),
      s"every survivor must be block-2's v=2 re-statement; got ${got.take(5).mkString(",")}")
    ch("DROP TABLE t_collseq")
  }

  test("r14: version-less Replacing FINAL keeps the later BLOCK's row") {
    ch("DROP TABLE IF EXISTS t_replseq")
    ch("CREATE TABLE t_replseq (k Int64, v Int64) " +
      "ENGINE = ReplacingMergeTree ORDER BY k")
    spark.range(0, 200).selectExpr("id AS k", "CAST(1 AS BIGINT) AS v")
      .repartition(8).createOrReplaceTempView("src_replb1")
    ch("INSERT INTO t_replseq SELECT k, v FROM src_replb1")
    spark.range(0, 200).selectExpr("id AS k", "CAST(2 AS BIGINT) AS v")
      .repartition(8).createOrReplaceTempView("src_replb2")
    ch("INSERT INTO t_replseq SELECT k, v FROM src_replb2")
    val got = ch("SELECT k, v FROM t_replseq FINAL ORDER BY k").collect()
    assert(got.length == 200 && got.forall(_.getLong(1) == 2L),
      "last inserted block must win for every key")
    // a post-insert mutation invalidates the recorded backing — FINAL
    // must still work (single-merged-block fallback), not crash
    ch("ALTER TABLE t_replseq ADD COLUMN w Int64 DEFAULT 7")
    val after = ch("SELECT k, w FROM t_replseq FINAL ORDER BY k").collect()
    assert(after.length == 200 &&
      after.forall(_.getAs[Number](1).longValue == 7L))
    ch("DROP TABLE t_replseq")
  }

  test("r15: multi-argument uniqIf/uniqExactIf hash the tuple") {
    // reference src/AggregateFunctions/AggregateFunctionUniq.cpp: the
    // multi-arg form counts distinct TUPLES among rows passing the cond
    val r = ch("SELECT uniqExactIf(l_returnflag, l_linestatus, l_quantity > 25) AS u, " +
      "uniqIf(l_returnflag, l_linestatus, l_quantity > 25) AS ua FROM lineitem").collect()(0)
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val expect = li.filter(col("l_quantity") > 25)
      .select(col("l_returnflag"), col("l_linestatus")).distinct().count()
    assert(r.getLong(0) == expect, s"uniqExactIf ${r.getLong(0)} vs $expect")
    // approx variant: within HLL error of the exact answer (tiny set -> exact)
    assert(math.abs(r.getLong(1) - expect) <= 1)
  }

  test("r15: 200 single-row INSERTs keep the FINAL plan depth bounded") {
    ch("DROP TABLE IF EXISTS t_manyins")
    ch("CREATE TABLE t_manyins (k Int64, v Int64) " +
      "ENGINE = ReplacingMergeTree ORDER BY k")
    // 2 statements per key so FINAL must still dedup; 200 inserts total
    for (i <- 0 until 200)
      ch(s"INSERT INTO t_manyins VALUES (${i % 100}, $i)")
    val df = ch("SELECT k, v FROM t_manyins FINAL ORDER BY k")
    // the union lineage is cut every 32 blocks: the analyzed plan holds
    // O(32) Union children, not O(200)
    val unions = df.queryExecution.analyzed.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
    }.map(_.children.length).sum
    assert(unions <= 80, s"union fan-in grew with insert count: $unions")
    val got = df.collect()
    assert(got.length == 100, s"expected 100 final keys, got ${got.length}")
    // later block wins: key k keeps v = k + 100 (second statement)
    assert(got.forall(r => r.getLong(1) == r.getLong(0) + 100L),
      s"FINAL must keep the last insert per key; got ${got.take(5).mkString(",")}")
    ch("DROP TABLE t_manyins")
  }

  test("r12: ASOF JOIN without an equi-conjunct is left unrewritten") {
    // inequality-only ON: the reference refuses it; we must not emit
    // 'WHERE  AND ...' garbage — the rewrite returns the query unchanged
    // and Spark raises a regular analysis error instead.
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "ts").createOrReplaceTempView("asof_l")
    Seq((1L, 5L)).toDF("k", "ts2").createOrReplaceTempView("asof_r")
    val e = intercept[Exception] {
      ch("SELECT * FROM asof_l ASOF JOIN asof_r ON asof_l.ts >= asof_r.ts2").collect()
    }
    assert(!e.getMessage.contains("WHERE  AND"))
  }

  test("a backslash-escaped quote stays inside its literal in every text pass") {
    // the hex pass must not rewrite a literal's body, nor stop short of
    // literals that follow it
    assert(ch("""SELECT 'it\'s 0x10' AS s""").collect().head.getString(0) == "it's 0x10")
    val hex = ch("""SELECT 0x10 AS a, 'it\'s' AS s, 0x10 AS b""").collect().head
    assert(hex.toSeq.map(_.toString) == Seq("16", "it's", "16"))
    // the trailing-comma IN-list rewrite reaches lists after such a literal
    val in = ch("""SELECT x IN (1,) AS p, 'a\'b' AS s, y IN (2,) AS q
                  |FROM (SELECT 1 AS x, 2 AS y)""".stripMargin).collect().head
    assert(in.toSeq == Seq(true, "a'b", true))
    assert(ChSql.splitArgs("'a\\'b', 'c'") == Seq("'a\\'b'", "'c'"))
    // the doubled-quote spelling reads the same
    assert(ch("SELECT 'it''s 0x10' AS s").collect().head.getString(0) == "it's 0x10")
  }

  test("a bracket inside a literal does not move a :: cast or a subscript off its primary") {
    assert(ch("SELECT concat('(', 'a')::String AS x").collect().head.getString(0) == "(a")
    assert(ch("SELECT concat(')', 'a')::String AS x").collect().head.getString(0) == ")a")
    assert(ch("SELECT splitByChar(',', ')a,b')[1] AS x").collect().head.getString(0) == ")a")
  }

  test("ChSql.sql leaves parameterless count() off the session conf") {
    val s = spark.newSession()
    val key = "spark.sql.legacy.allowParameterlessCount"
    val before = s.conf.getOption(key)
    assert(ChSql.sql(s, sf, "SELECT count() AS n FROM numbers(3)").collect().head.getLong(0) == 3L)
    assert(s.conf.getOption(key) == before)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      s.sql("SELECT count() FROM range(3)").collect())
    assert(e.getMessage.contains("WRONG_NUM_ARGS"), e.getMessage)
  }

  test("function names and keywords inside a literal keep their spelling") {
    val r = ch("SELECT 'count()' AS a, 'x FINAL' AS b, 'SEMI LEFT JOIN' AS c, " +
      "'toYear(d)' AS d, toYear(toDate('2024-05-01')) AS y, " +
      "'GLOBAL IN' AS e, 'ALL INNER JOIN' AS f, 'ANTI LEFT JOIN' AS g").collect().head
    assert(Seq("a", "b", "c", "d", "e", "f", "g").map(r.getAs[String]) ==
      Seq("count()", "x FINAL", "SEMI LEFT JOIN", "toYear(d)", "GLOBAL IN", "ALL INNER JOIN",
        "ANTI LEFT JOIN"))
    assert(r.getAs[Number]("y").intValue == 2024)
  }

  test("argument counts are checked on calls, not on literals or nested brackets") {
    val e = intercept[IllegalArgumentException](ch("SELECT plus(1, 2, 3) AS x"))
    assert(e.getMessage.contains("NUMBER_OF_ARGUMENTS_DOESNT_MATCH"), e.getMessage)
    assert(ch("SELECT plus(1, [2, 3][1]) AS x").collect().head.getAs[Number](0).intValue == 3)
    assert(ch("SELECT 'plus(1, 2, 3)' AS s").collect().head.getString(0) == "plus(1, 2, 3)")
    assert(ch("SELECT generateSnowflakeID() AS id").collect().head.getLong(0) > 0)
    // an empty argument list is 0 arguments (h3GetRes0Indexes takes exactly 0)
    assert(ch("SELECT h3GetRes0Indexes() AS r").collect().head.getList[Long](0).size == 122)
  }

  test("the rename table is applied in one pass: no target is itself renamed") {
    val chained = ChSql.aliases.filter { case (_, to) => ChSql.aliases.contains(to) }
    assert(chained.isEmpty, s"renamed twice: $chained")
    assert(!ChSql.aliases.valuesIterator.contains("t"))
    // a name CH and Spark share has no entry, so whitespace before its
    // paren reaches Spark as written
    val r = ch("SELECT if (1 = 1, 'a', 'b') AS a, greatest (1, 3) AS b, " +
      "left ('abc', 2) AS c, repeat ('x', 2) AS d").collect().head
    assert(r.toSeq.map(_.toString) == Seq("a", "3", "ab", "xx"))
  }

  test("system.* renames and MySQL-compat, UTF8 and RFC renames leave literals alone") {
    val r = ch("SELECT 'system.numbers' AS a, 'INET_ATON(x)' AS b, " +
      "'editDistanceUTF8(a, b)' AS c, 'domainRFC(u)' AS d, " +
      "INET_ATON('1.2.3.4') AS n, format_bytes(1024) AS f").collect().head
    assert(Seq("a", "b", "c", "d").map(r.getAs[String]) ==
      Seq("system.numbers", "INET_ATON(x)", "editDistanceUTF8(a, b)", "domainRFC(u)"))
    assert(r.getAs[Number]("n").longValue == 16909060L)
    assert(r.getAs[String]("f") == "1.00 KiB")
    assert(ch("SELECT number FROM system.numbers LIMIT 3").collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("RENAME TABLE carries the table's metadata") {
    Seq("rn_meta_a", "rn_meta_b", "rn_meta_c", "rn_meta_mv", "rn_meta_mv2")
      .foreach(t => ch(s"DROP TABLE IF EXISTS $t"))
    ch("CREATE TABLE rn_meta_a (k Int64, v Int64, w Int64 DEFAULT 42) " +
      "ENGINE = ReplacingMergeTree ORDER BY k")
    ch("INSERT INTO rn_meta_a (k, v) VALUES (1, 1), (2, 1)")
    ch("INSERT INTO rn_meta_a (k, v) VALUES (1, 2), (2, 2)")
    ch("RENAME TABLE rn_meta_a TO rn_meta_b")
    def rows(q: String) = ch(q).collect().map(_.toSeq.map(_.toString)).toSeq
    // the FINAL backing and the engine moved: the later block wins
    assert(rows("SELECT k, v, w FROM rn_meta_b FINAL ORDER BY k") ==
      Seq(Seq("1", "2", "42"), Seq("2", "2", "42")))
    // the data parts moved: system.parts and _part see the new name only
    def activeParts() = rows("SELECT `table`, count() AS n FROM system.parts " +
      "WHERE active = 1 AND `table` IN ('rn_meta_a', 'rn_meta_b') GROUP BY `table`")
    assert(activeParts() == Seq(Seq("rn_meta_b", "2")))
    assert(rows("SELECT count(DISTINCT _part) AS n FROM rn_meta_b") == Seq(Seq("2")))
    // the DDL moved: SHOW CREATE and the DEFAULT of a later INSERT
    val ddl = ch("SHOW CREATE TABLE rn_meta_b").collect().head.getString(0)
    assert(ddl.contains("ReplacingMergeTree") && ddl.contains("DEFAULT 42"), ddl)
    ch("INSERT INTO rn_meta_b (k, v) VALUES (3, 1)")
    assert(rows("SELECT w FROM rn_meta_b WHERE k = 3") == Seq(Seq("42")))
    // OPTIMIZE FINAL merges under the new name
    ch("OPTIMIZE TABLE rn_meta_b FINAL")
    assert(rows("SELECT k, v FROM rn_meta_b ORDER BY k") ==
      Seq(Seq("1", "2"), Seq("2", "2"), Seq("3", "1")))
    assert(activeParts() == Seq(Seq("rn_meta_b", "1")))
    // a renamed materialized view still receives its source's inserts
    ch("CREATE MATERIALIZED VIEW rn_meta_mv ENGINE = Memory AS SELECT k * 10 AS k10 FROM rn_meta_b")
    ch("RENAME TABLE rn_meta_mv TO rn_meta_mv2")
    ch("INSERT INTO rn_meta_b (k, v) VALUES (4, 1)")
    assert(rows("SELECT k10 FROM rn_meta_mv2") == Seq(Seq("40")))
    // and so it does after its source is renamed
    ch("RENAME TABLE rn_meta_b TO rn_meta_c")
    ch("INSERT INTO rn_meta_c (k, v) VALUES (5, 1)")
    assert(rows("SELECT k10 FROM rn_meta_mv2 ORDER BY k10") == Seq(Seq("40"), Seq("50")))
    ch("DROP TABLE rn_meta_mv2")
    ch("DROP TABLE rn_meta_c")
  }

  test("CREATE TABLE ... AS <table> copies the source's declared metadata") {
    Seq("clone_meta_a", "clone_meta_b").foreach(t => ch(s"DROP TABLE IF EXISTS $t"))
    ch("CREATE TABLE clone_meta_a (k Int64, w Int64 DEFAULT 42, INDEX wi w TYPE minmax GRANULARITY 1) " +
      "ENGINE = ReplacingMergeTree ORDER BY k")
    ch("CREATE TABLE clone_meta_b AS clone_meta_a")
    ch("INSERT INTO clone_meta_b (k) VALUES (1)")
    assert(ch("SELECT w FROM clone_meta_b").collect().head.getAs[Number](0).longValue == 42L)
    val ddl = ch("SHOW CREATE TABLE clone_meta_b").collect().head.getString(0)
    assert(Seq("ReplacingMergeTree", "DEFAULT 42", "INDEX wi").forall(ddl.contains), ddl)
    Seq("clone_meta_a", "clone_meta_b").foreach(t => ch(s"DROP TABLE $t"))
  }

  test("DROP TABLE forgets the table's metadata") {
    ch("DROP TABLE IF EXISTS drop_meta_vx")
    ch("CREATE TABLE drop_meta_vx (id Int64, v Array(Float32), " +
      "INDEX vi v TYPE vector_similarity('hnsw', 'L2Distance', 3)) " +
      "ENGINE = MergeTree ORDER BY id")
    val e = intercept[IllegalArgumentException](
      ch("INSERT INTO drop_meta_vx VALUES (1, [1.0, 2.0])"))
    assert(e.getMessage.contains("INCORRECT_DATA"), e.getMessage)
    ch("DROP TABLE drop_meta_vx")
    // re-created without the index: 2-dim vectors are accepted
    ch("CREATE TABLE drop_meta_vx (id Int64, v Array(Float32)) ENGINE = MergeTree ORDER BY id")
    ch("INSERT INTO drop_meta_vx VALUES (1, [1.0, 2.0])")
    assert(ch("SELECT length(v) AS n FROM drop_meta_vx").collect().head
      .getAs[Number](0).intValue == 2)
    ch("DROP TABLE drop_meta_vx")
  }

  test("PREWHERE inside a literal keeps its spelling") {
    assert(ch("SELECT 'a PREWHERE b' AS s").collect().head.getString(0) == "a PREWHERE b")
    assert(ch("SELECT n FROM (SELECT number AS n FROM numbers(5)) PREWHERE n > 2 ORDER BY n")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L))
  }

  test("LIMIT m, n inside a literal keeps its spelling") {
    assert(ch("SELECT 'LIMIT 1, 2' AS s").collect().head.getString(0) == "LIMIT 1, 2")
    assert(ch("SELECT number FROM numbers(10) ORDER BY number LIMIT 1, 2")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("IN array( inside a literal keeps its spelling") {
    val r = ch("SELECT 'IN array(1)' AS s, 2 IN [1, 2] AS b").collect().head
    assert(r.getString(0) == "IN array(1)")
    assert(r.getBoolean(1))
  }

  test("numbers ( inside a literal keeps its spelling") {
    val r = ch("SELECT 'numbers (3)' AS s, (SELECT count() FROM numbers (3)) AS n").collect().head
    assert(r.getString(0) == "numbers (3)")
    assert(r.getAs[Number](1).longValue == 3L)
  }

  test("SAMPLE k inside a literal keeps its spelling") {
    assert(ch("SELECT 'x SAMPLE 0.5' AS s").collect().head.getString(0) == "x SAMPLE 0.5")
    assert(ch("SELECT 'SAMPLE 1' AS s, count() AS n FROM lineitem SAMPLE 1000")
      .collect().head.getAs[Number](1).longValue == 1000L)
  }

  test("emptyArray<T>() inside a literal keeps its spelling") {
    val r = ch("SELECT 'emptyArrayUInt8()' AS s, length(emptyArrayUInt8()) AS n").collect().head
    assert(r.getString(0) == "emptyArrayUInt8()")
    assert(r.getAs[Number](1).intValue == 0)
  }

  test("quantiles(...)(...) forms are call templates: literals stay, parameters may nest") {
    assert(ch("SELECT 'quantiles(0.5)(x)' AS s").collect().head.getString(0) == "quantiles(0.5)(x)")
    val r = ch("SELECT quantilesExact((0.5), 1)(number) AS q FROM numbers(11)").collect().head
    assert(r.getSeq[Double](0) == Seq(5.0, 10.0))
  }

  test("RENAME TABLE onto an existing table fails with TABLE_ALREADY_EXISTS") {
    Seq("ren_exist_a", "ren_exist_b").foreach(t => ch(s"DROP TABLE IF EXISTS $t"))
    ch("CREATE TABLE ren_exist_a (k Int64) ENGINE = Memory")
    ch("INSERT INTO ren_exist_a VALUES (7)")
    ch("CREATE TABLE ren_exist_b (s String) ENGINE = Memory")
    ch("INSERT INTO ren_exist_b VALUES ('x')")
    val e = intercept[IllegalArgumentException](ch("RENAME TABLE ren_exist_a TO ren_exist_b"))
    assert(e.getMessage.contains("TABLE_ALREADY_EXISTS"), e.getMessage)
    assert(ch("SELECT s FROM ren_exist_b").collect().map(_.getString(0)).toSeq == Seq("x"))
    assert(ch("SELECT k FROM ren_exist_a").collect().map(_.getLong(0)).toSeq == Seq(7L))
    Seq("ren_exist_a", "ren_exist_b").foreach(t => ch(s"DROP TABLE $t"))
  }

  test("CREATE TABLE over an existing table: refused, kept with IF NOT EXISTS, replaced with OR REPLACE") {
    ch("DROP TABLE IF EXISTS cre_exist")
    ch("CREATE TABLE cre_exist (s String) ENGINE = Memory")
    ch("INSERT INTO cre_exist VALUES ('x')")
    val e = intercept[IllegalArgumentException](
      ch("CREATE TABLE cre_exist (z Int8) ENGINE = Memory"))
    assert(e.getMessage.contains("TABLE_ALREADY_EXISTS"), e.getMessage)
    ch("CREATE TABLE IF NOT EXISTS cre_exist (z Int8) ENGINE = Memory")
    assert(ch("SELECT s FROM cre_exist").collect().map(_.getString(0)).toSeq == Seq("x"))
    ch("CREATE OR REPLACE TABLE cre_exist (z Int8) ENGINE = Memory")
    assert(ch("SELECT z FROM cre_exist").collect().isEmpty)
    ch("DROP TABLE cre_exist")
  }
}
