package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions: the engine's custom optimizer rule fires and
  * the headline plans have the shape we designed for scale (pushdown,
  * broadcast, no stray shuffles). */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("DatePreimageRule: year(ts)=y becomes a pushed range predicate") {
    val o = graft.core.Tables.t(spark, sf, "orders")
    val df = o.filter(year(col("o_orderdate")) === 1997).select(col("o_orderkey"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") &&
      (physical.contains("GreaterThanOrEqual(o_orderdate") ||
       physical.contains("IsNotNull(o_orderdate)")),
      s"expected pushed range filter, got:\n$physical")
    // the rewritten predicate must NOT appear as a post-scan year() filter
    assert(!df.queryExecution.optimizedPlan.toString.contains("year("),
      "year() survived optimization")
    // and results must be identical to the unrewritten semantics
    val expect = o.collect().count(_.getAs[java.time.LocalDateTime]("o_orderdate").getYear == 1997)
    assert(df.count() == expect)
  }

  test("year(ts) < y also rewrites") {
    val o = graft.core.Tables.t(spark, sf, "orders")
    val df = o.filter(year(col("o_orderdate")) < 1997)
    assert(!df.queryExecution.optimizedPlan.toString.contains("year("))
    val expect = o.collect().count(_.getAs[java.time.LocalDateTime]("o_orderdate").getYear < 1997)
    assert(df.count() == expect)
  }

  test("DatePreimageRule handles DateType columns") {
    import spark.implicits._
    val df = Seq("1996-05-01", "1997-06-01", "1998-07-01").toDF("s")
      .select(to_date(col("s")).as("d"))
    val filtered = df.filter(year(col("d")) === 1997)
    assert(!filtered.queryExecution.optimizedPlan.toString.contains("year("))
    assert(filtered.count() == 1)
  }

  test("q5 plan broadcasts the small dimensions") {
    val plan = SparkEntry.queries("q5_local_supplier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in q5 plan")
  }

  test("q1 filter is pushed to the parquet scan") {
    val plan = SparkEntry.queries("q1_pricing_summary")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n${plan.take(2000)}")
  }

  test("hash-compat kernels stay inside whole-stage codegen") {
    // the faithful hash family (HashCompat) emits a single static call in
    // doGenCode — a projection using them must land inside a
    // WholeStageCodegen span, not fall back to interpreted evaluation
    val df = graft.core.Tables.t(spark, sf, "customer")
      .selectExpr("ch_cityhash64(c_name) AS h1", "ch_siphash64(c_name) AS h2",
        "ch_xxhash32(c_name) AS h3", "ch_inthash64(c_custkey) AS h4")
    val rows = df.collect() // force execution so AQE finalizes the stages
    assert(rows.nonEmpty && rows.exists(r => r.getLong(0) != 0L))
    val plan = df.queryExecution.executedPlan.toString
    // the Project carrying the hash calls is starred = inside a
    // WholeStageCodegen span (no CodegenFallback interpretation)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.toLowerCase.contains("cityhash64")),
      s"hash projection not codegen'd:\n${plan.take(2000)}")
  }

  test("no unpartitioned Window in the de-weaked operators") {
    // These used to funnel all rows through one task via a global Window;
    // the scale-safe rewrites must keep every WindowExec partitioned
    // (tiny broadcast/offset sides may legitimately be SinglePartition,
    // so the Window operator is the right thing to assert on).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def globalWindows(p: SparkPlan): Seq[String] = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => Seq(w.simpleStringWithNodeId())
        case _ => Seq.empty
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case _ => p.children
      }
      self ++ kids.flatMap(globalWindows)
    }
    for (q <- Seq("q_limit_with_ties", "q_paste_join", "q_asof_join",
                  "q_asof_forward", "q_win_share", "q_mann_whitney", "q_with_fill")) {
      val bad = globalWindows(SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan)
      assert(bad.isEmpty, s"$q has unpartitioned Window(s): ${bad.mkString("; ")}")
    }
  }

  test("q_limit_by plan: double WindowGroupLimit around a single hash exchange") {
    // LIMIT n BY must plan as per-partition top-n (Partial WindowGroupLimit)
    // -> ONE hash exchange on the group key -> Final WindowGroupLimit.
    // This is the shape that scales: each mapper emits at most n rows per
    // group before the shuffle. A regression to a bare Window would move
    // every row of every group through the exchange.
    val plan = SparkEntry.queries("q_limit_by")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit") && plan.contains("Partial") &&
      plan.contains("Final"),
      s"expected Partial+Final WindowGroupLimit:\n${plan.take(3000)}")
    assert("WindowGroupLimit".r.findAllIn(plan).length === 2,
      s"expected exactly 2 WindowGroupLimit nodes:\n${plan.take(3000)}")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 1,
      s"expected exactly one hash exchange (plus the output-order range " +
        s"exchange):\n${plan.take(3000)}")
  }

  test("q_any_join plan: right side dedups BEFORE the join") {
    // ANY JOIN = dedup right side on the join key, then a plain equi-join.
    // The dedup (min_by-over-struct aggregate since r18; previously a
    // top-1 WindowGroupLimit) must sit INSIDE a join child subtree —
    // deduping after the join would be semantically wrong, and a missing
    // dedup would fan out matches.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def collect[T](p: SparkPlan)(f: PartialFunction[SparkPlan, T]): Seq[T] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.initialPlan)
        case _ => p.children
      }
      (if (f.isDefinedAt(p)) Seq(f(p)) else Seq.empty) ++ kids.flatMap(collect(_)(f))
    }
    val root = SparkEntry.queries("q_any_join")(spark, sf)
      .queryExecution.executedPlan
    val joins = collect(root) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"no join node:\n${root.toString.take(2000)}")
    val dedupInsideJoinChild = joins.exists(_.children.exists(c =>
      c.toString.contains("min_by") || c.toString.contains("WindowGroupLimit")))
    assert(dedupInsideJoinChild,
      s"right-side first-row dedup not inside a join child:\n${root.toString.take(3000)}")
  }

  test("q_dedup_embedding_lsh plan has no all-pairs join") {
    // The LSH path must generate candidates via an equi-join on
    // (band, signature), never a cartesian/theta product over the corpus.
    val plan = SparkEntry.queries("q_dedup_embedding_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into the LSH plan:\n${plan.take(3000)}")
  }

  test("q_semantic_components edge generation has no all-pairs join") {
    // Edges for the component pass come from the banded-LSH equi-join +
    // exact verify (fetch-by-id hash joins); the exact quadratic pair
    // join exists only in the DuckDB oracle. A cartesian/theta self-join
    // here would be the 100x-scale killer. The assertion targets the
    // edge-list plan directly because connectedComponents immediately
    // localCheckpoints its input (plan truncation), which would make a
    // full-query plan check vacuously pass.
    val emb = graft.core.Tables.t(spark, sf, "embeddings")
    val plan = graft.llm.Similarity.cosinePairsBucketed(
        emb, "vec_id", "embedding", 0.9)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs join leaked into the semantic-components edge plan:\n${plan.take(3000)}")
    assert(plan.contains("xxhash64") || plan.contains("hyperplane") ||
      plan.contains("HyperplaneBandSigs"),
      s"expected banded-signature generation in the plan:\n${plan.take(3000)}")
  }

  test("decontamination plan broadcasts the benchmark grams (semi join)") {
    // The corpus side must stream map-side against a broadcast benchmark
    // set — a shuffled or nested-loop join would move the whole corpus.
    val plan = SparkEntry.queries("q_decontaminate")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"benchmark side not broadcast-semi-joined:\n${plan.take(3000)}")
    assert(!plan.contains("CartesianProduct"), "cartesian leaked into decontamination")
  }

  test("point-in-polygon plan broadcasts the edge table") {
    // 8 edges x N points: the edge side must be the broadcast build side;
    // the crossing count is a hash-agg on the streaming point side.
    val plan = SparkEntry.queries("q_point_in_polygon")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"edge table not broadcast:\n${plan.take(3000)}")
    assert(plan.contains("HashAggregate"), "crossing parity should be a hash-agg")
  }

  test("projection routing reroutes a matching aggregate to the summary scan") {
    import graft.plans.ProjectionRouting
    // summaries register per session: route in a session of its own, so
    // the shared one (and the baseline below) keeps scanning the fact table
    val routedSpark = spark.newSession()
    val fact = graft.core.Tables.t(routedSpark, sf, "lineitem")
    val summaryPath = s"${graft.core.Tables.scratchDir(routedSpark)}/projections/planspec_li_rf_ls"
    ProjectionRouting.ensureSummary(routedSpark, s"$sf/lineitem.parquet", fact,
      Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"), summaryPath)
    val routed = fact.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("n"))
    val opt = routed.queryExecution.optimizedPlan.toString
    assert(opt.contains("sum(sum_l_quantity") && opt.contains("sum(cnt"),
      s"aggregate not rewritten to re-aggregation:\n$opt")
    // the plan text truncates long scan locations: compare the scans' paths
    val scanned = routed.queryExecution.sparkPlan.collect {
      case scan: org.apache.spark.sql.execution.FileSourceScanExec =>
        scan.relation.location.rootPaths.map(_.toUri.getPath)
    }.flatten
    assert(scanned == Seq(summaryPath), s"scan not rerouted: $scanned")
    // a query with an UNREGISTERED measure must NOT reroute
    val unrouted = fact.groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice")).as("s"))
    assert(!unrouted.queryExecution.optimizedPlan.toString.contains("sum_l_quantity"))
    // results must equal the computation in a session with no summary
    val got = routed.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet
    val direct = graft.core.Tables.t(spark.newSession(), sf, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")), count(lit(1)))
    assert(!direct.queryExecution.optimizedPlan.toString.contains("sum_l_quantity"))
    assert(got == direct.collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3))).toSet)
  }

  test("a summary registered in one session does not reroute another session") {
    import graft.plans.ProjectionRouting
    val (a, b) = (spark.newSession(), spark.newSession())
    ProjectionRouting.ensureSummary(a, s"$sf/lineitem.parquet", graft.core.Tables.t(a, sf, "lineitem"),
      Seq("l_returnflag"), Seq("l_quantity"), s"${graft.core.Tables.scratchDir(a)}/projections/li_rf")
    def optimized(s: org.apache.spark.sql.SparkSession): String =
      graft.core.Tables.t(s, sf, "lineitem").groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity"))).queryExecution.optimizedPlan.toString
    assert(optimized(a).contains("sum_l_quantity"), "the registering session must reroute")
    assert(!optimized(b).contains("sum_l_quantity"), "another session was rerouted")
  }

  test("projection pruning reaches the scan (2-column read)") {
    val li = graft.core.Tables.t(spark, sf, "lineitem")
    val plan = li.select(col("l_orderkey"), col("l_quantity"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning failed:\n$plan")
  }

  test("bare COUNT/MIN/MAX are answered from parquet footer statistics") {
    // reference optimize_trivial_count_query / MergeTree metadata count:
    // the scan node must carry PushedAggregation and read no row groups.
    // Footer-stat aggregation is a DSv2 scan capability, so the v2 parquet
    // path is enabled for this plan (v1 is the suite-wide default).
    val prevV1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val df = li.agg(count(lit(1)).as("n"), min(col("l_orderkey")).as("lo"),
        max(col("l_orderkey")).as("hi"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]"),
        s"aggregate pushdown missing:\n$plan")
      val r = df.collect()(0)
      val rows = li.count()
      assert(r.getLong(0) == rows && r.getLong(1) <= r.getLong(2))
    } finally {
      spark.conf.set("spark.sql.sources.useV1SourceList", prevV1)
    }
  }

  test("q_geo_cells is map-side: no join, no aggregate shuffle") {
    // cell/kRing/inBox are per-row scalar kernels — the only exchange
    // allowed is the deterministic output sort.
    val plan = SparkEntry.queries("q_geo_cells")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"geo cell plan grew a join:\n${plan.take(2000)}")
    assert(!plan.contains("hashpartitioning"),
      s"geo cell plan shuffles beyond the output sort:\n${plan.take(2000)}")
  }

  test("q_sim_ann_nsw shuffles once into shards, never joins the corpus") {
    // NSW: one repartition into shard graphs, per-shard candidates merge
    // via global top-k — no corpus-wide join and no cartesian product.
    // Pinned on the raw OPERATOR: the registered query now wraps it in a
    // recall computation (ANN ∩ brute-force join) for the driver gate.
    val plan = graft.llm.Similarity.annTopKNsw(
        graft.core.Tables.t(spark, sf, "embeddings"), "vec_id", "embedding",
        queryId = 0L, k = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"NSW plan joined the corpus:\n${plan.take(2000)}")
    val shuffles = "hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1, s"NSW plan has $shuffles hash shuffles (expected 1):\n${plan.take(2000)}")
  }

  test("Summing Nested-map FINAL: bounded exchanges, no cartesian, all in-plan") {
    // the r13 engine-merge path (explode -> per-(key,mapkey) sum ->
    // per-key re-collect -> join back), reachable from any dialect
    // CREATE: per map group the merge must cost a bounded number of
    // key-hash exchanges and never a cartesian or driver-side loop
    import graft.sqlfront.ChSql
    ChSql.sql(spark, sf, "DROP TABLE IF EXISTS t_sumplan")
    ChSql.sql(spark, sf,
      """CREATE TABLE t_sumplan (k UInt64, v UInt64,
        |`aMap.k` Array(UInt32), `aMap.v` Array(UInt64),
        |`bMap.k` Array(UInt32), `bMap.v` Array(UInt64))
        |ENGINE = SummingMergeTree ORDER BY k""".stripMargin)
    ChSql.sql(spark, sf,
      "INSERT INTO t_sumplan VALUES (1, 2, [1,2], [10,20], [3], [30]), " +
        "(1, 3, [2,4], [5,6], [3], [70])")
    val df = ChSql.sql(spark, sf, "SELECT * FROM t_sumplan FINAL")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"nested-map merge went cartesian:\n${plan.take(3000)}")
    val ex = "hashpartitioning".r.findAllIn(plan).length
    assert(ex <= 6,
      s"nested-map merge has $ex hash exchanges (expected <= 6 for 2 map groups):\n${plan.take(3000)}")
    // semantics sanity on the same table: maps merged element-wise,
    // zero groups kept (v sums non-zero), map keys sorted
    val r = df.collect()
    assert(r.length == 1)
    def str(c: String) =
      r(0).getAs[scala.collection.Seq[Any]](c).map(_.toString).toSeq
    assert(str("aMap.k") == Seq("1", "2", "4") &&
      str("aMap.v") == Seq("10", "25", "6"), r(0).toString)
    ChSql.sql(spark, sf, "DROP TABLE t_sumplan")
  }

  test("q_fn_dict_hier: the hierarchy chain is a broadcast-join tower") {
    // depth-8 parent chain over a 25-row dictionary: every subquery
    // level must compile to a BROADCAST join (the dictionary bounds the
    // tower, not the fact table) — a sort-merge join here would shuffle
    // the customer scan once per level.
    val plan = SparkEntry.queries("q_fn_dict_hier")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast joins in the hierarchy tower:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"hierarchy chain fell back to sort-merge:\n${plan.take(2000)}")
  }
}
