package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** transform() value remap + regexp counting (SURVEY.md §2.8
  * introspection/regex rows). */
object Misc4 {
  private def T(s: SparkSession, dir: String)(n: String): DataFrame = Tables.t(s, dir, n)

  val queries: Map[String, Q] = Map(
    // transform(x, [from...], [to...], default) (reference transform.cpp)
    // == lookup in a literal map with a default.
    "q_fn_value_remap" -> { (s, dir) =>
      val e = T(s, dir)("events")
      val m = map_from_arrays(
        array(lit("click"), lit("view"), lit("purchase")),
        array(lit(10), lit(20), lit(30)))
      ordered(e.select(coalesce(element_at(m, col("event_type")), lit(-1)).as("code"))
        .groupBy(col("code")).agg(count(lit(1)).as("n")))
    },

    // arrayDifference / arrayCumSum (reference array/arrayDifference.cpp,
    // arrayCumSum.cpp) over the 64-dim embeddings — emitted as scalar
    // checksums of the result arrays (sum/first/last) for comparison
    // stability.
    "q_fn_array_scan" -> { (s, dir) =>
      val e = T(s, dir)("embeddings")
      val vd = transform(col("embedding"), x => x.cast("double"))
      val n = size(vd)
      val diff = transform(sequence(lit(1), n), i =>
        when(i === 1, lit(0.0)).otherwise(
          element_at(vd, i) - element_at(vd, i - 1)))
      val cums = transform(sequence(lit(1), n), i =>
        aggregate(slice(vd, lit(1), i), lit(0.0), (a, x) => a + x))
      ordered(e.select(
        col("vec_id"),
        aggregate(diff, lit(0.0), (a, x) => a + abs(x)).as("diff_l1"),
        element_at(cums, 1).as("cum_first"),
        element_at(cums, -1).as("cum_last")))
    },

    // countMatches / regexp_extract_all / regexp_instr-style position.
    "q_fn_regex_count" -> { (s, dir) =>
      val d = T(s, dir)("documents")
      ordered(d.select(
        col("doc_id"),
        regexp_count(col("text"), lit("[aeiou]{2}")).as("n_double_vowel"),
        size(regexp_extract_all(col("text"), lit("\\b\\w{5}\\b"), lit(0))).as("n_five_letter"),
        regexp_count(col("text"), lit("row")).as("n_row")))
    },

    // ORDER BY ... COLLATE (reference src/Columns/Collator.h,
    // IColumn.h:364). Spark 4 collations make the round-1 "ICU absent"
    // gap obsolete: UTF8_LCASE == lowercase-then-binary, which is exactly
    // DuckDB's NOCASE on this ASCII fixture. The collated ORDER is
    // captured as a per-segment rank (partitioned window, tie-broken
    // binary) so the oracle can verify the ordering itself, not just the
    // row set.
    "q_collate" -> { (s, dir) =>
      val c = T(s, dir)("customer").filter(col("c_custkey") <= 1000)
      val mixed = when(pmod(col("c_custkey"), lit(3)) === 0, lower(col("c_name")))
        .when(pmod(col("c_custkey"), lit(3)) === 1, upper(col("c_name")))
        .otherwise(col("c_name"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment"))
        .orderBy(collate(mixed, "UTF8_LCASE"), mixed)
      ordered(c.select(col("c_mktsegment"), mixed.as("name_mixed"),
        row_number().over(w).as("ci_rank")))
    },

    // dictGet (reference FunctionsExternalDictionaries.h): enrich facts
    // with dimension attributes via the broadcast-dictionary join — the
    // dimension ships once, the fact side never shuffles.
    "q_dict_get" -> { (s, dir) =>
      val c = T(s, dir)("customer").filter(col("c_custkey") <= 2000)
      val n = T(s, dir)("nation")
      ordered(graft.ops.Ops.dictGet(c, n, col("c_nationkey"), col("n_nationkey"),
          (col("n_name"), "nation_name"), (col("n_regionkey"), "region_key"))
        .select(col("c_custkey"), col("nation_name"), col("region_key")))
    },

    // Aggregate-projection routing (reference
    // optimizeUseAggregateProjection.cpp): the query aggregates the FACT
    // table, but the optimizer rule reroutes the scan to a materialized
    // per-(returnflag, linestatus) summary and re-aggregates partials.
    // Results are exact (sum/count decompose); sum stays on the integral
    // l_quantity so re-aggregation is FP-exact too. Scan switch asserted
    // in PlanSpec.
    "q_projection_route" -> { (s, dir) =>
      val fact = T(s, dir)("lineitem")
      val summaryPath = s"${graft.core.Tables.scratchDir(s)}/projections/${new java.io.File(dir).getName}_li_rf_ls"
      graft.plans.ProjectionRouting.ensureSummary(
        s, s"$dir/lineitem.parquet", fact,
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), summaryPath)
      ordered(fact.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")))
    },

    // End-to-end dialect run: a ClickHouse-flavoured query (toYear /
    // toStartOfDay / countIf / sumIf / uniqExact) through ChSql.sql,
    // oracle-checked against plain SQL in DuckDB. Proves the rewrite
    // pipeline itself, not just individual templates.
    "q_ch_dialect_e2e" -> { (s, dir) =>
      graft.sqlfront.ChSql.sql(s, dir,
        """SELECT toStartOfDay(o_orderdate) AS day,
          |  countIf(o_orderstatus = 'F') AS n_f,
          |  uniqExact(o_custkey) AS nc,
          |  CAST(floor(sumIf(o_totalprice, o_orderpriority = '1-URGENT') + 0.5) AS BIGINT) AS urgent_rev
          |FROM orders
          |WHERE toYear(o_orderdate) = 1997
          |GROUP BY day
          |ORDER BY day NULLS FIRST, n_f NULLS FIRST, nc NULLS FIRST, urgent_rev NULLS FIRST""".stripMargin)
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q_dict_get" ->
      """SELECT c_custkey, n_name AS nation_name, n_regionkey AS region_key
        |FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_custkey <= 2000
        |ORDER BY c_custkey NULLS FIRST, nation_name NULLS FIRST, region_key NULLS FIRST""".stripMargin,
    "q_projection_route" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem GROUP BY 1, 2
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, sum_qty NULLS FIRST, n NULLS FIRST""".stripMargin,
    "q_collate" ->
      """SELECT c_mktsegment, name_mixed, cast(ci_rank AS int) AS ci_rank FROM (
        |  SELECT c_mktsegment,
        |    CASE WHEN c_custkey % 3 = 0 THEN lower(c_name)
        |         WHEN c_custkey % 3 = 1 THEN upper(c_name)
        |         ELSE c_name END AS name_mixed,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY (CASE WHEN c_custkey % 3 = 0 THEN lower(c_name)
        |                     WHEN c_custkey % 3 = 1 THEN upper(c_name)
        |                     ELSE c_name END) COLLATE NOCASE,
        |        CASE WHEN c_custkey % 3 = 0 THEN lower(c_name)
        |             WHEN c_custkey % 3 = 1 THEN upper(c_name)
        |             ELSE c_name END) AS ci_rank
        |  FROM customer WHERE c_custkey <= 1000)
        |ORDER BY c_mktsegment NULLS FIRST, name_mixed NULLS FIRST, ci_rank NULLS FIRST""".stripMargin,
    "q_fn_value_remap" ->
      """SELECT code, count(*) AS n FROM (
        |  SELECT CASE event_type WHEN 'click' THEN 10 WHEN 'view' THEN 20
        |    WHEN 'purchase' THEN 30 ELSE -1 END AS code
        |  FROM events)
        |GROUP BY code ORDER BY code NULLS FIRST, n NULLS FIRST""".stripMargin,
    "q_fn_array_scan" ->
      """WITH t AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
        |  FROM embeddings),
        |d AS (SELECT vec_id, vd,
        |    list_transform(range(1, len(vd) + 1),
        |      i -> CASE WHEN i = 1 THEN 0.0 ELSE vd[i] - vd[i-1] END) AS diff,
        |    list_transform(range(1, len(vd) + 1),
        |      i -> list_sum(vd[1:i])) AS cums
        |  FROM t)
        |SELECT vec_id,
        |  list_sum(list_transform(diff, x -> abs(x))) AS diff_l1,
        |  cums[1] AS cum_first,
        |  cums[-1] AS cum_last
        |FROM d
        |ORDER BY vec_id NULLS FIRST""".stripMargin,
    "q_fn_regex_count" ->
      """SELECT doc_id,
        |  cast(len(regexp_extract_all(text, '[aeiou]{2}')) AS bigint) AS n_double_vowel,
        |  cast(len(regexp_extract_all(text, '\b\w{5}\b')) AS int) AS n_five_letter,
        |  cast(len(regexp_extract_all(text, 'row')) AS bigint) AS n_row
        |FROM documents
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_ch_dialect_e2e" ->
      """SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
        |  cast(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS n_f,
        |  cast(count(DISTINCT o_custkey) AS BIGINT) AS nc,
        |  CAST(floor(coalesce(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 0) + 0.5) AS BIGINT) AS urgent_rev
        |FROM orders
        |WHERE year(o_orderdate) = 1997
        |GROUP BY 1
        |ORDER BY day NULLS FIRST, n_f NULLS FIRST, nc NULLS FIRST, urgent_rev NULLS FIRST""".stripMargin
  )
}
