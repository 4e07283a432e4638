package graft.queries

import graft.core.Tables
import graft.ops.{EngineViews, Fill}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MergeTree engine-family semantics, FINAL, WITH FILL, deterministic
  * sampling (SURVEY.md §2.1, §2.6).
  */
object Engines {
  private def T(s: SparkSession, dir: String)(n: String): DataFrame = Tables.t(s, dir, n)

  val queries: Map[String, Q] = Map(
    // ReplacingMergeTree + FINAL: latest event per (user, type).
    "q_engine_replacing" -> { (s, dir) =>
      val e = T(s, dir)("events")
      ordered(EngineViews.replacingFinal(e,
          Seq("user_id", "event_type"), Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value")))
    },

    // SummingMergeTree + FINAL: measures summed per key.
    "q_engine_summing" -> { (s, dir) =>
      val e = T(s, dir)("events")
      ordered(EngineViews.summingFinal(e, Seq("user_id", "event_type"), Seq("value")))
    },

    // CollapsingMergeTree + FINAL: signup=+1 / error=-1 rows collapse per
    // user; survivors = net>0, state = latest +1 row.
    "q_engine_collapsing" -> { (s, dir) =>
      val e = T(s, dir)("events")
        .filter(col("event_type").isin("signup", "error"))
        .withColumn("sign", when(col("event_type") === "signup", 1).otherwise(-1))
      ordered(EngineViews.collapsingFinal(e, Seq("user_id"), col("sign"),
          Seq(col("ts"), col("event_id")))
        .select(col("user_id"), col("event_id"), col("value")))
    },

    // VersionedCollapsingMergeTree FINAL (reference
    // VersionedCollapsingSortedAlgorithm): sign from event_id%3, version
    // = event_id (unique => deterministic "latest"); a key survives iff
    // net sign > 0 and keeps its highest-version +1 row.
    "q_engine_versioned" -> { (s, dir) =>
      val e = T(s, dir)("events")
        .withColumn("sgn", when(pmod(col("event_id"), lit(3)) === 0, -1).otherwise(1))
      ordered(EngineViews.versionedCollapsingFinal(
          e, Seq("user_id", "event_type"), col("sgn"), col("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value")))
    },

    // Input/output format round-trip (reference src/Formats — CSV and
    // JSONEachRow): write a slice as CSV and as JSON, read both back,
    // aggregate; results must equal the parquet-side oracle exactly
    // (shortest-roundtrip float formatting survives both formats).
    "q_format_roundtrip" -> { (s, dir) =>
      val o = T(s, dir)("orders").filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val base = s"${graft.core.Tables.scratchDir(s)}/formats/${new java.io.File(dir).getName}"
      o.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      o.write.mode("overwrite").json(s"$base/json")
      val fromCsv = s.read.option("header", "true").schema(o.schema).csv(s"$base/csv")
      val fromJson = s.read.schema(o.schema).json(s"$base/json")
      def summ(df: DataFrame, fmt: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 4).as("total"),
            min(col("o_orderkey")).as("min_key"), max(col("o_custkey")).as("max_cust"))
          .withColumn("fmt", lit(fmt))
      ordered(summ(fromCsv, "csv").unionByName(summ(fromJson, "json"))
        .select(col("fmt"), col("o_orderstatus"), col("n"), col("total"),
          col("min_key"), col("max_cust")))
    },

    // WITH FILL: daily signup counts on a gap-free January 2024 grid,
    // missing days as 0, plus INTERPOLATE-style carry of the last count.
    "q_with_fill" -> { (s, dir) =>
      val e = T(s, dir)("events")
      val daily = e.filter(col("event_type") === "signup" && col("user_id") < 10)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val from = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000
      val to = java.time.Instant.parse("2024-01-30T00:00:00Z").toEpochMilli * 1000
      val filled = Fill.withFillTimestamp(s, daily, "day", from, to, 86400L * 1000000,
        carryCols = Seq("n"))
      ordered(filled.select(col("day"),
        coalesce(col("n"), lit(0L)).as("n_filled")))
    },

    // WITH FILL ... INTERPOLATE (n AS n + 3) — expression mode
    // (reference FillingTransform.cpp): gap days compound the previous
    // OUTPUT row's value, so a 3-day hole yields +3, +6, +9. The affine
    // expression keeps arithmetic exact (long adds), so the DuckDB
    // closed form (last + 3*distance) hash-matches the fold.
    "q_with_fill_interp" -> { (s, dir) =>
      val e = T(s, dir)("events")
      val daily = e.filter(col("event_type") === "signup" && col("user_id") === 7)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val from = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000
      val to = java.time.Instant.parse("2024-01-30T00:00:00Z").toEpochMilli * 1000
      val filled = Fill.withFillInterpolate(s, daily, "day", from, to, 86400L * 1000000,
        Map("n" -> (prev => prev + lit(3L))), timestampKey = true)
      ordered(filled.select(col("day"), col("n").as("n_interp")))
    },

    // Deterministic SAMPLE BY key (reference MergeTree sampling key
    // semantics: stable subset by key arithmetic, not RNG).
    "q_sample_by_key" -> { (s, dir) =>
      val li = T(s, dir)("lineitem")
      ordered(li.filter(pmod(col("l_orderkey"), lit(10)) === 3)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty")))
    },

    // groupArraySample analog: k rows per group, uniform AND reproducible —
    // rank by a salted md5 of the row key instead of an RNG (reference
    // AggregateFunctionGroupArraySample.h is seeded-RNG reservoir; the
    // hash-rank formulation gives the same uniform-subset contract but is
    // stable across engines, partitionings and reruns).
    "q_group_array_sample" -> { (s, dir) =>
      val o = T(s, dir)("orders")
        .withColumn("hk", md5(concat(lit("sample-v1:"), col("o_orderkey").cast("string"))))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority")).orderBy(col("hk"), col("o_orderkey"))
      // Sampled keys as scalar rows (the driver's comparator can't sort
      // ARRAY columns).
      ordered(o.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("o_orderpriority"), col("o_orderkey")))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q_engine_replacing" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, event_id NULLS FIRST, value NULLS FIRST""".stripMargin,
    "q_engine_summing" ->
      """SELECT user_id, event_type, sum(value) AS value
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, value NULLS FIRST""".stripMargin,
    "q_engine_collapsing" ->
      """WITH se AS (SELECT *, CASE WHEN event_type = 'signup' THEN 1 ELSE -1 END AS sign
        |  FROM events WHERE event_type IN ('signup', 'error')),
        |alive AS (SELECT user_id FROM se GROUP BY user_id HAVING sum(sign) > 0),
        |latest AS (SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM se WHERE sign = 1) WHERE rn = 1)
        |SELECT l.user_id AS user_id, l.event_id AS event_id, l.value AS value
        |FROM latest l JOIN alive a USING (user_id)
        |ORDER BY l.user_id NULLS FIRST, l.event_id NULLS FIRST, l.value NULLS FIRST""".stripMargin,
    "q_engine_versioned" ->
      """WITH e AS (SELECT user_id, event_type, event_id, value,
        |    CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END AS sgn FROM events),
        |net AS (SELECT user_id, event_type FROM e GROUP BY 1, 2 HAVING sum(sgn) > 0),
        |plus AS (SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY event_id DESC) AS rn
        |  FROM e WHERE sgn = 1)
        |SELECT p.user_id AS user_id, p.event_type AS event_type,
        |  p.event_id AS event_id, p.value AS value
        |FROM plus p JOIN net USING (user_id, event_type) WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST, event_id NULLS FIRST, value NULLS FIRST""".stripMargin,
    "q_format_roundtrip" ->
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey < 2000),
        |s AS (SELECT o_orderstatus, cast(count(*) AS BIGINT) n,
        |    round(sum(o_totalprice), 4) total,
        |    min(o_orderkey) min_key, max(o_custkey) max_cust
        |  FROM o GROUP BY 1)
        |SELECT fmt, o_orderstatus, n, total, min_key, max_cust FROM (
        |  SELECT 'csv' AS fmt, * FROM s UNION ALL SELECT 'json' AS fmt, * FROM s)
        |ORDER BY fmt NULLS FIRST, o_orderstatus NULLS FIRST, n NULLS FIRST,
        |  total NULLS FIRST, min_key NULLS FIRST, max_cust NULLS FIRST""".stripMargin,
    "q_with_fill" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |    count(*) AS n
        |  FROM events WHERE event_type = 'signup' AND user_id < 10
        |  GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day)
        |SELECT g.day AS day, coalesce(d.n, 0) AS n_filled
        |FROM grid g LEFT JOIN daily d USING (day)
        |ORDER BY day NULLS FIRST, n_filled NULLS FIRST""".stripMargin,
    "q_with_fill_interp" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |    cast(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type = 'signup' AND user_id = 7
        |  GROUP BY 1),
        |grid AS (SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
        |    TIMESTAMP '2024-01-30', INTERVAL 1 DAY)) AS day),
        |j AS (SELECT g.day AS day, d.n FROM grid g LEFT JOIN daily d USING (day)),
        |c AS (SELECT day, n,
        |    last_value(CASE WHEN n IS NOT NULL THEN day END IGNORE NULLS)
        |      OVER (ORDER BY day) AS src_day,
        |    last_value(n IGNORE NULLS) OVER (ORDER BY day) AS src_n
        |  FROM j)
        |SELECT day,
        |  coalesce(n, src_n + 3 * date_diff('day', src_day, day)) AS n_interp
        |FROM c
        |ORDER BY day NULLS FIRST, n_interp NULLS FIRST""".stripMargin,
    "q_sample_by_key" ->
      """SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem WHERE l_orderkey % 10 = 3
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag NULLS FIRST, n NULLS FIRST, sum_qty NULLS FIRST""".stripMargin,
    "q_group_array_sample" ->
      """WITH h AS (SELECT o_orderpriority, o_orderkey,
        |    md5('sample-v1:' || CAST(o_orderkey AS VARCHAR)) AS hk
        |  FROM orders),
        |r AS (SELECT o_orderpriority, o_orderkey, row_number() OVER
        |    (PARTITION BY o_orderpriority ORDER BY hk, o_orderkey) AS rn
        |  FROM h)
        |SELECT o_orderpriority, o_orderkey
        |FROM r WHERE rn <= 5
        |ORDER BY o_orderpriority NULLS FIRST, o_orderkey NULLS FIRST""".stripMargin
  )
}
