package graft.queries

import org.apache.spark.sql.SparkSession

/** Round-9: value-faithful hash family (reference
  * src/Functions/FunctionsHashing.h, via functions/HashCompat.scala).
  * DuckDB cannot compute the reference's hash algorithms, so the oracle
  * embeds the expected values as a literal table (generated by
  * `sbt "Test/runMain graft.tools.HashPins"`) — the correctness run is a
  * bit-exact regression pin over every kernel, on top of
  * HashCompatSpec's independent-oracle tests (official SipHash-2-4
  * vectors, String.hashCode, Spark's spec-verified XXH64, zlib CRC).
  */
object Functions8 {

  /** Probe strings of the hash pin tables (q_fn_hash_compat, q_fn_digest):
    * the DuckDB oracle embeds one row of expected values per string, so
    * this list and the oracle's literals change together. */
  val hashProbes: Seq[String] = Seq(
    "", "a", "abc", "message digest",
    "The quick brown fox jumps over the lazy dog",
    "clickhouse", "spark", "BUILDING", "Customer#000000001", "1995-01-01",
    "dedup-minhash",
    "0123456789abcdef0123456789abcdef0123456789abcdef0123456789abcdef!!")

  /** Probe strings of the shingle-fingerprint pin table
    * (q_fn_shingle_hash). */
  val shingleProbes: Seq[String] = Seq(
    "", "ab", "abc", "abcd", "hello world",
    "The quick brown foxes jumped over the lazy dogs",
    "Data deduplication finds near duplicate documents quickly",
    "ClickHouse is a column oriented database management system",
    "über straße naïve café", // multi-byte UTF8
    "short a bb ccc words")

  val queries: Map[String, Q] = Map(
    // ngram/wordShingle SimHash+MinHash fingerprints (reference
    // FunctionsStringHash.cpp via functions/StringShingles.scala). DuckDB
    // cannot compute these; the oracle pins the expected values as a
    // literal table (regenerate: sbt "Test/runMain graft.tools.HashPins
    // shingles"). ASCII probes only — the multibyte UTF8 path is pinned
    // in StringShinglesSpec instead, keeping the driver JSON pure ASCII.
    "q_fn_shingle_hash" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      shingleProbes
        .filter(_.forall(_ < 128)).toDF("s")
        .createOrReplaceTempView("shingle_probes")
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """SELECT s,
          |  ngramSimHash(s) AS ng,
          |  ngramSimHashCaseInsensitive(s) AS ng_ci,
          |  ngramSimHashUTF8(s) AS ng_u8,
          |  wordShingleSimHash(s) AS ws,
          |  wordShingleSimHashCaseInsensitive(s) AS ws_ci,
          |  ngramMinHash(s)._1 AS mh1,
          |  ngramMinHash(s)._2 AS mh2,
          |  wordShingleMinHash(s)._1 AS wmh1,
          |  wordShingleMinHash(s)._2 AS wmh2
          |FROM shingle_probes""".stripMargin))
    },
    // reinterpretAs* bit-level family (reference reinterpretAs.cpp via
    // functions/Reinterpret.scala). ASCII fixture strings let DuckDB
    // verify the little-endian byte arithmetic independently.
    "q_fn_reinterpret" -> { (s: SparkSession, dir: String) =>
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """SELECT c_custkey,
          |  reinterpretAsUInt32(c_name) AS u32,
          |  reinterpretAsUInt16(c_name) AS u16,
          |  reinterpretAsUInt8(c_name) AS u8,
          |  reinterpretAsInt8(c_name) AS i8,
          |  reinterpretAsUInt64(reinterpretAsString(c_custkey)) AS rt_key,
          |  reinterpretAsDate(reinterpretAsString(c_custkey)) AS d_key,
          |  reinterpretAsDateTime(reinterpretAsString(c_custkey * 86400)) AS dt_key
          |FROM customer WHERE c_custkey < 300""".stripMargin))
    },
    // uniqTheta set algebra (reference FunctionsUniqTheta.cpp via
    // aggregates.ThetaSetOps): two customer-segment sketches, then
    // union/intersect/not estimates. Segment distinct counts stay below
    // the sketch capacity (k=1024), so every estimate is EXACT and the
    // DuckDB oracle is plain COUNT(DISTINCT ...) set arithmetic.
    "q_theta_set_ops" -> { (s: SparkSession, dir: String) =>
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """WITH a AS (SELECT uniqThetaState(c_custkey) AS st FROM customer WHERE c_custkey < 600),
          |     b AS (SELECT uniqThetaState(c_custkey) AS st FROM customer WHERE c_custkey >= 300 AND c_custkey < 900)
          |SELECT
          |  finalizeAggregation(uniqThetaUnion(a.st, b.st)) AS u,
          |  uniqThetaIntersect(a.st, b.st) AS i,
          |  uniqThetaNot(a.st, b.st) AS d
          |FROM a CROSS JOIN b""".stripMargin))
    },
    // A/B-test sample sizing (reference minSampleSize.cpp via
    // functions/Batch17.scala): the normal quantile is computed from
    // first principles (Taylor erf + Lentz erfc + Newton) and verified
    // here against DuckDB arithmetic with the published z constants.
    "q_fn_ab_testing" -> { (s: SparkSession, dir: String) =>
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """SELECT c_custkey,
          |  round(minSampleSizeContinuous(abs(c_acctbal) + 100.0, abs(c_acctbal) / 10.0 + 5.0, 0.05, 0.8, 0.05)._1, 4) AS mss,
          |  round(minSampleSizeContinuous(abs(c_acctbal) + 100.0, abs(c_acctbal) / 10.0 + 5.0, 0.05, 0.8, 0.05)._2, 4) AS mss_lo,
          |  round(minSampleSizeContinuous(abs(c_acctbal) + 100.0, abs(c_acctbal) / 10.0 + 5.0, 0.05, 0.8, 0.05)._3, 4) AS mss_hi,
          |  round(minSampleSizeConversion((c_custkey % 50 + 1) / 100.0, 0.02, 0.8, 0.05)._1, 4) AS msc
          |FROM customer WHERE c_custkey < 300""".stripMargin))
    },
    // batch-16 string gap fill driven end-to-end through the dialect
    // (splitBy*/replaceOne/replaceRegexpOne/countMatchesCaseInsensitive/
    // stringBytes* — reference splitByRegexp.cpp, replaceOne.cpp,
    // stringBytesUniq.cpp, stringBytesEntropy.cpp)
    "q_fn_string_gaps" -> { (s: SparkSession, dir: String) =>
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """SELECT c_custkey,
          |  arrayStringConcat(splitByRegexp('[0-9]+', c_name), '|') AS toks,
          |  arrayStringConcat(splitByNonAlpha(c_name), '|') AS words,
          |  replaceOne(c_name, '0', 'X') AS rep1,
          |  replaceRegexpOne(c_name, '[0-9]', 'X') AS repre1,
          |  countMatchesCaseInsensitive(c_name, 'c') AS cmi,
          |  stringBytesUniq(c_name) AS sbu,
          |  round(stringBytesEntropy(c_name), 9) AS sbe,
          |  mismatches(substring(c_name, 10, 4), '0000') AS mm
          |FROM customer WHERE c_custkey < 300""".stripMargin))
    },
    // batch-16 date/time tail through the dialect (DateLUTImpl.h
    // formulas; snowflake.cpp/snowflakeIDToDateTime.cpp codecs)
    "q_fn_time_gaps" -> { (s: SparkSession, dir: String) =>
      ordered(graft.sqlfront.ChSql.sql(s, dir,
        """SELECT o_orderkey,
          |  toISOYear(o_orderdate) AS iso_y,
          |  toLastDayOfWeek(o_orderdate) AS ldw,
          |  toRelativeMonthNum(o_orderdate) AS rmn,
          |  toRelativeQuarterNum(o_orderdate) AS rqn,
          |  toRelativeWeekNum(o_orderdate) AS rwn,
          |  toDaysSinceYearZero(o_orderdate) AS dsy,
          |  toMonthNumSinceEpoch(o_orderdate) AS mse,
          |  toYearNumSinceEpoch(o_orderdate) AS yse,
          |  addMicroseconds(toDateTime(o_orderdate), o_orderkey) AS amu,
          |  changeHour(toDateTime(o_orderdate), 12) AS chh,
          |  snowflakeToDateTime64(dateTime64ToSnowflake(toDateTime(o_orderdate))) AS sf_rt,
          |  snowflakeIDToDateTime64(dateTimeToSnowflakeID(toDateTime(o_orderdate))) AS sfid_rt
          |FROM orders WHERE o_orderkey < 2000""".stripMargin))
    },
    // one row per probe string, one column per hash kernel
    "q_fn_hash_compat" -> { (s: SparkSession, dir: String) =>
      import s.implicits._
      val df = hashProbes.toDF("s")
      ordered(df.selectExpr(
        "s",
        "ch_cityhash64(s) AS h_city",
        "ch_siphash64(s) AS h_sip64",
        "ch_xxhash32(s) AS h_xx32",
        "ch_xxhash64(s) AS h_xx64",
        "ch_murmur2_64(s) AS h_mm2_64",
        "ch_murmur3_32(s) AS h_mm3_32",
        "ch_kafka_murmur(s) AS h_kafka",
        "ch_javahash(s) AS h_java",
        "ch_crc32(s) AS h_crc32",
        "ch_crc64(s) AS h_crc64",
        "ch_wyhash64(s) AS h_wy",
        "ch_halfmd5(s) AS h_hmd5",
        "ch_farmhash64(s) AS h_farm",
        "ch_farmfingerprint64(s) AS h_ffp",
        "ch_metrohash64(s) AS h_metro",
        "lower(hex(ch_siphash128(s))) AS h_sip128"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q_fn_shingle_hash" ->
      """SELECT s,
        |  CAST(ng AS BIGINT) AS ng, CAST(ng_ci AS BIGINT) AS ng_ci,
        |  CAST(ng_u8 AS BIGINT) AS ng_u8, CAST(ws AS BIGINT) AS ws,
        |  CAST(ws_ci AS BIGINT) AS ws_ci,
        |  CAST(mh1 AS BIGINT) AS mh1, CAST(mh2 AS BIGINT) AS mh2,
        |  CAST(wmh1 AS BIGINT) AS wmh1, CAST(wmh2 AS BIGINT) AS wmh2
        |FROM (VALUES
        |    ('', 4294967295, 4294967295, 4294967295, 0, 0, 7253148913642104098, 7253148913642104098, 0, 0),
        |    ('ab', 492689097, 492689097, 492689097, 0, 0, -2030387405812206456, -2030387405812206456, 0, 0),
        |    ('abc', 3384066120, 3384066120, 0, 0, 0, -3908714498500202793, -3908714498500202793, 0, 0),
        |    ('abcd', 3232808960, 3232808960, 3841129639, 1832383950, 1832383950, 990726241925203029, -6449485764294597024, 8156831160775399898, 8156831160775399898),
        |    ('hello world', 1907006898, 1907006898, 1101170096, 2838776703, 2838776703, 2517122180029031976, 1077053935616217837, -6358679424207756134, -6358679424207756134),
        |    ('The quick brown foxes jumped over the lazy dogs', 1547386642, 1547386642, 1547321106, 2031424866, 2031424866, 8273083071695291712, 386051319378895156, 9098384568936389486, 1704870482934972532),
        |    ('Data deduplication finds near duplicate documents quickly', 3859584275, 3863778579, 3859584275, 2568337544, 3122002585, -7965073469989503600, 7760660439301322724, -8720823652562839189, -4591052805504654662),
        |    ('ClickHouse is a column oriented database management system', 1680931842, 1680929810, 1680931858, 2361656840, 2160329224, 5787690519818037579, 8241313418182116576, 4038049222833540492, -3599007672649902355),
        |    ('short a bb ccc words', 3408467128, 3408467128, 3677951162, 422442373, 422442373, -8892172941420092343, 4548565165083555148, -6937032776093010710, -6937032776093010710)) t(s, ng, ng_ci, ng_u8, ws, ws_ci, mh1, mh2, wmh1, wmh2)
        |ORDER BY s NULLS FIRST""".stripMargin,
    "q_fn_reinterpret" ->
      """SELECT c_custkey,
        |  CAST(ascii(substring(c_name, 1, 1))
        |     + ascii(substring(c_name, 2, 1)) * 256
        |     + ascii(substring(c_name, 3, 1)) * 65536
        |     + ascii(substring(c_name, 4, 1)) * 16777216 AS BIGINT) AS u32,
        |  CAST(ascii(substring(c_name, 1, 1))
        |     + ascii(substring(c_name, 2, 1)) * 256 AS INTEGER) AS u16,
        |  CAST(ascii(substring(c_name, 1, 1)) AS INTEGER) AS u8,
        |  CAST(ascii(substring(c_name, 1, 1)) AS TINYINT) AS i8,
        |  CAST(c_custkey AS BIGINT) AS rt_key,
        |  DATE '1970-01-01' + CAST(c_custkey AS INTEGER) AS d_key,
        |  CAST(DATE '1970-01-01' AS TIMESTAMP) + to_seconds(c_custkey * 86400) AS dt_key
        |FROM customer WHERE c_custkey < 300
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_theta_set_ops" ->
      """SELECT
        |  (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer WHERE c_custkey < 900) AS u,
        |  (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
        |     WHERE c_custkey >= 300 AND c_custkey < 600) AS i,
        |  (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer WHERE c_custkey < 300) AS d""".stripMargin,
    "q_fn_ab_testing" ->
      """WITH z AS (SELECT 1.959963984540054 AS za, 0.8416212335729143 AS zp),
        |args AS (
        |  SELECT c_custkey,
        |    abs(c_acctbal) + 100.0 AS baseline,
        |    abs(c_acctbal) / 10.0 + 5.0 AS sigma,
        |    (c_custkey % 50 + 1) / 100.0 AS p1
        |  FROM customer WHERE c_custkey < 300)
        |SELECT c_custkey,
        |  round(2 * sigma * sigma * (za + zp) * (za + zp) / (baseline * 0.05 * baseline * 0.05), 4) AS mss,
        |  round(baseline - baseline * 0.05, 4) AS mss_lo,
        |  round(baseline + baseline * 0.05, 4) AS mss_hi,
        |  round(pow(za * sqrt(2 * ((p1 + p1 + 0.02) / 2) * (1 - (p1 + p1 + 0.02) / 2))
        |      + zp * sqrt(p1 * (1 - p1) + (p1 + 0.02) * (1 - p1 - 0.02)), 2) / (0.02 * 0.02), 4) AS msc
        |FROM args, z
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_fn_string_gaps" ->
      """SELECT c_custkey,
        |  array_to_string(string_split_regex(c_name, '[0-9]+'), '|') AS toks,
        |  array_to_string(string_split_regex(c_name, '[^A-Za-z0-9]+'), '|') AS words,
        |  regexp_replace(c_name, '0', 'X') AS rep1,
        |  regexp_replace(c_name, '[0-9]', 'X') AS repre1,
        |  CAST(length(c_name) - length(regexp_replace(c_name, '(?i)c', '', 'g')) AS INTEGER) AS cmi,
        |  (SELECT CAST(count(DISTINCT substring(c_name, g.i, 1)) AS BIGINT)
        |     FROM (SELECT unnest(range(1, length(c_name) + 1)) AS i) g) AS sbu,
        |  (SELECT round(-sum(f.p * log2(f.p)), 9) FROM (
        |     SELECT CAST(count(*) AS DOUBLE) / length(c_name) AS p
        |     FROM (SELECT unnest(range(1, length(c_name) + 1)) AS i) g
        |     GROUP BY substring(c_name, g.i, 1)) f) AS sbe,
        |  (SELECT CAST(count(*) AS INTEGER)
        |     FROM (SELECT unnest(range(1, 5)) AS i) pos
        |     WHERE substring(c_name, 9 + pos.i, 1) <> substring('0000', pos.i, 1)) AS mm
        |FROM customer WHERE c_custkey < 300
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_fn_time_gaps" ->
      """SELECT o_orderkey,
        |  CAST(isoyear(o_orderdate) AS INTEGER) AS iso_y,
        |  CAST(date_trunc('week', o_orderdate) + INTERVAL 6 DAY AS DATE) AS ldw,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS INTEGER) AS rmn,
        |  CAST(year(o_orderdate) * 4 + (month(o_orderdate) - 1) // 3 AS INTEGER) AS rqn,
        |  CAST((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 7 -
        |        (dayofweek(o_orderdate) + 6) % 7) // 7 AS BIGINT) AS rwn,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) + 719528 AS BIGINT) AS dsy,
        |  CAST((year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1 AS INTEGER) AS mse,
        |  CAST(year(o_orderdate) - 1970 AS INTEGER) AS yse,
        |  CAST(o_orderdate AS TIMESTAMP) + to_microseconds(o_orderkey) AS amu,
        |  CAST(o_orderdate AS TIMESTAMP) + INTERVAL 12 HOUR AS chh,
        |  CAST(o_orderdate AS TIMESTAMP) AS sf_rt,
        |  CAST(o_orderdate AS TIMESTAMP) AS sfid_rt
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderkey NULLS FIRST""".stripMargin,
    "q_fn_hash_compat" ->
      """SELECT s,
        |  CAST(h_city AS BIGINT) AS h_city, CAST(h_sip64 AS BIGINT) AS h_sip64,
        |  CAST(h_xx32 AS BIGINT) AS h_xx32, CAST(h_xx64 AS BIGINT) AS h_xx64,
        |  CAST(h_mm2_64 AS BIGINT) AS h_mm2_64, CAST(h_mm3_32 AS BIGINT) AS h_mm3_32,
        |  CAST(h_kafka AS BIGINT) AS h_kafka, CAST(h_java AS INTEGER) AS h_java,
        |  CAST(h_crc32 AS BIGINT) AS h_crc32, CAST(h_crc64 AS BIGINT) AS h_crc64,
        |  CAST(h_wy AS BIGINT) AS h_wy, CAST(h_hmd5 AS BIGINT) AS h_hmd5,
        |  CAST(h_farm AS BIGINT) AS h_farm, CAST(h_ffp AS BIGINT) AS h_ffp,
        |  CAST(h_metro AS BIGINT) AS h_metro,
        |  h_sip128
        |FROM (VALUES
        |    ('', -7286425919675154353, 2202906307356721367, 46947589, -1205034819632174695, 0, 0, 275646681, 0, 0, 0, 4808886099364463827, -3162216497309240828, -7286425919675154353, -7286425919675154353, -5064826056969746269, '32b5c1db56a683e9e5b5b6a8cbed11f7'),
        |    ('a', 2603192927274642682, -7583489610679606711, 1426945110, -3292477735350538661, 510903276987443985, 1009084850, 584102524, 97, 3904355907, 3219832958944941148, 7852112099385141351, 919145239626757800, -5528939962900187677, -5528939962900187677, 6759146875928959315, '71315e763ccb60893893cdbb5cc3a21f'),
        |    ('abc', 4220206313085259313, 4596069200710135518, 852579327, 4952883123889572249, -7148968302806999301, 3017643002, 479470107, 96354, 891568578, -4169956618877883039, -5440192278582460465, -8070080442485551184, 2640714258260161385, 2640714258260161385, 983152225323542437, 'b6b415a2da966b6c685a65e54c12a353'),
        |    ('message digest', 2490476439371436544, 726274263806702628, 2090108052, 463544382707905470, -7005725376035414328, 1670332777, 154284415, 490815485, 538287487, 594348266784810790, 4767355922495851308, -474169348073221235, -8236639965996807062, -8236639965996807062, -1701162720925967505, '088750d63c3eb0622c73e499a400a468'),
        |    ('The quick brown fox jumps over the lazy dog', -1748936168063167881, 6413216055727023117, 3898516702, 802816344064684476, 6163679885495272987, 776992547, 495243318, -609428141, 1095738169, -1168251394812166789, -2772365244369061785, -7057002501900618110, 520327665418357475, -6071270166956912332, 1903055355638576177, '85e0b8a437a3177f8804c88131f11726'),
        |    ('clickhouse', 7986503660239546262, 8215640427676154167, 1577425035, 1818038328221954259, -5006483009977859160, 523905204, 134700894, -768723304, 3576920388, -4338053281051572921, -2752790169519235714, 4085582472856926835, 4034697792955270592, 4034697792955270592, 6783394735685323332, '5dc5734013a803ea6a7c8a8d63790098'),
        |    ('spark', -2854051932105907217, -6055981630672942351, 1528392364, -6776263939222646740, 8032713105945961097, 4164101445, 1559304356, 109638365, 2635321133, -2137775932499639931, -6182204193906118976, -7426124097735616868, -4300037184891490641, -4300037184891490641, 8740111994081027607, 'e208a100783ac1dc13c2d3f9b2ee3577'),
        |    ('BUILDING', 2601965604606315113, -352632249689314575, 2296460803, 6629254394027167474, 3623812510775676765, 955201417, 1225909556, -648019276, 660405656, -4950601284446332923, -7123579231644194040, 8189377319902011719, -5068195347462403994, -5068195347462403994, 1400817389445315112, 'b67fae6b4f936cb04795453f99a1774b'),
        |    ('Customer#000000001', -6945840601655615825, 7894482051783859516, 1274056603, 1778429829281615868, -6921698544663095914, 3126469384, 781297692, 478928364, 14390204, 6013911862353549912, 2926243577436937733, 1910027542612243864, 4836775216308497900, 4836775216308497900, 7862749644928039882, '5e9b80f79d35aeb86286c69904e020d5'),
        |    ('1995-01-01', 8303417265954349950, 8808492130474689963, 1098463893, -2828340533838235486, -8671247375735792532, 2531954098, 1754206313, 698225028, 1786374026, -1129048586058555726, 5871104419770101748, 7317948819814544315, 7878133106966726060, 7878133106966726060, -5750753630621850661, 'dcde8f4c40a71707775b4b17acab297d'),
        |    ('dedup-minhash', -8404630865912238702, -4273716741257794056, 3901980563, 8696403772062882059, -1562703638312161037, 2989669255, 148608658, 1663283569, 1504601, -3617183730642004283, -6993392916427424435, 1154625342531256571, 3375160368953240557, 3375160368953240557, 1722369698644758402, '55d9cf32eaf2a034adb47f64ae4710f0'),
        |    ('0123456789abcdef0123456789abcdef0123456789abcdef0123456789abcdef!!', 5593768353041328307, -415168110973317195, 63089792, -6331179931953669839, 2152049801254348696, 2155911128, 61576476, 1299977920, 278882201, -6990299781804036282, 1386669507512197825, 3513416846399537270, -7647707223430041449, -1453414638504695972, 7334952856950697547, '08fa2b0cccdba18fbd75767301dd9c75')) t(s, h_city, h_sip64, h_xx32, h_xx64, h_mm2_64, h_mm3_32, h_kafka, h_java, h_crc32, h_crc64, h_wy, h_hmd5, h_farm, h_ffp, h_metro, h_sip128)
        |ORDER BY s NULLS FIRST""".stripMargin
  )
}
