package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-benchmark fixture generator: replicates the sf0.1 tables x N
  * with coherent key offsets so join fan-out and group cardinalities scale
  * linearly, the way a larger TPC-H SF does (dimension tables region and
  * nation stay fixed, like the spec's constant-size tables).
  *
  * Documents get a per-copy token ROTATION and embeddings a per-copy
  * vector rotation instead of verbatim duplication: exact copies would
  * turn every doc into a 10-clique of near-duplicates and blow up the
  * dedup/components workload quadratically — a shape real 10x corpora
  * don't have (rotation preserves token and norm distributions while
  * decorrelating shingles and cosines across copies).
  *
  * Output is a fixture directory with the input's table layout, for timing
  * data-bound queries at `copies` times the input's size; it is NOT an
  * oracle fixture (the correctness gate stays on the generated oracle
  * fixtures). Run: sbt "runMain graft.sources.ScaleUp <src> <out> <copies>" */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.core.Tables.session("local[32]", 32)
    import spark.implicits._

    // events.ts is parquet TIMESTAMP(NANOS) — read as a raw ns long
    // (same legacy conf Tables.t uses) and write it back as plain INT64,
    // which Tables.t's events path converts identically at query time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] wrote $t x$copies")
    }

    // Fixed dimensions: copied verbatim (constant size at any SF).
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    val copyIdx = spark.range(copies).select(col("id").cast("int").as("__c"))
    def rep(t: String): DataFrame = rd(t).crossJoin(broadcast(copyIdx))
    def shift(c: String, span: Long) = (col(c) + col("__c") * span).as(c)

    // Key spans: next power of 10 above the sf0.1 max keeps shifted keys
    // disjoint per copy and readable in debug output.
    wr(rep("customer").select(shift("c_custkey", 100000L), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    wr(rep("supplier").select(shift("s_suppkey", 10000L), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier")
    wr(rep("part").select(shift("p_partkey", 100000L), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")), "part")
    wr(rep("orders").select(shift("o_orderkey", 10000000L),
      shift("o_custkey", 100000L), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), col("o_orderpriority")), "orders")
    wr(rep("lineitem").select(shift("l_orderkey", 10000000L),
      shift("l_partkey", 100000L), shift("l_suppkey", 10000L),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")), "lineitem")
    wr(rep("events").select(shift("event_id", 1000000L), col("ts"),
      shift("user_id", 100000L), col("event_type"), col("value"),
      col("props")), "events")

    // Documents: per-copy deterministic token PERMUTATION (sort by
    // xxhash64(token, position, copy)) — preserves the token multiset
    // (quality stats, language ID, BM25 term frequencies) while
    // destroying n-gram shingle correlation across copies. NOT rotation:
    // a rotation keeps the shingle SET nearly intact (only the wrap
    // boundary changes), which made every doc a 10-clique of
    // LSH near-duplicates and blew the dedup workload up quadratically
    // (q_dedup_minhash_lsh 0.9 s -> 37 s on the first fixture attempt).
    // Exact within-copy duplicates stay exact duplicates (same tokens ->
    // same permutation); copy 0 keeps the original near-dup structure.
    val toks = split(col("text"), " ")
    val permuted = transform(
      array_sort(zip_with(toks, sequence(lit(1), size(toks)),
        (t, i) => struct(xxhash64(t, i, col("__c")).as("h"), t.as("t")))),
      s => s.getField("t"))
    wr(rep("documents").select(shift("doc_id", 100000L),
      when(col("__c") === 0, col("text"))
        .otherwise(array_join(permuted, " ")).as("text"),
      col("lang"), col("source"), col("n_chars")), "documents")

    // Embeddings: rotate the vector by __c dims — norm-preserving,
    // decorrelates cosines across copies.
    val dim = size(col("embedding"))
    val r = pmod(col("__c"), greatest(dim, lit(1)))
    val rotVec = concat(slice(col("embedding"), r + 1, dim - r),
      slice(col("embedding"), lit(1), r))
    wr(rep("embeddings").select(shift("vec_id", 100000L),
      when(col("__c") === 0, col("embedding")).otherwise(rotVec).as("embedding"),
      col("label")), "embeddings")

    spark.stop()
  }
}
