package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.llm.LshDefaults

/** Pins the corpus-size → LSH-banding derivation against the round-12
  * density-sweep measurements (BASELINE.md §Round-12 LSH
  * density knob): the MEASURED winning settings at each measured scale
  * must be exactly what the no-parameter path derives. */
class LshDefaultsSpec extends AnyFunSuite {
  test("minhash banding matches the measured sweep rows") {
    // sf0.1 fixture ≈ 6k docs — the measured (k=32, b=8, r=4) default
    assert(LshDefaults.minhash(6000L) == ((32, 8)))
    // sf1 ≈ 60k and sf10 ≈ 600k — the measured scaled (k=48, b=6, r=8)
    assert(LshDefaults.minhash(60000L) == ((48, 6)))
    assert(LshDefaults.minhash(600000L) == ((48, 6)))
    // past the measured range the log step continues
    assert(LshDefaults.minhash(20000000L) == ((72, 6)))
    // rows/band (AND-bits) never decrease with corpus size
    val rows = Seq(1000L, 1e4.toLong, 1e5.toLong, 1e6.toLong, 1e7.toLong,
      1e8.toLong, 1e9.toLong, 1e10.toLong)
      .map { n => val (k, b) = LshDefaults.minhash(n); k / b }
    assert(rows == rows.sorted, s"rows/band not monotone: $rows")
  }

  test("cosine banding matches the measured sweep rows") {
    assert(LshDefaults.cosine(6000L) == ((12, 8)))
    assert(LshDefaults.cosine(60000L) == ((24, 15)))   // sf1 measured
    assert(LshDefaults.cosine(600000L) == ((24, 18)))  // sf10 measured
    val planes = Seq(1000L, 1e4.toLong, 1e5.toLong, 1e6.toLong,
      1e7.toLong, 1e8.toLong)
      .map(n => LshDefaults.cosine(n)._2)
    assert(planes == planes.sorted, s"planes not monotone: $planes")
  }

  test("annPlanes keeps bucket occupancy near target") {
    assert(LshDefaults.annPlanes(1000L) == 4)          // clamp floor
    assert(LshDefaults.annPlanes(1024000L) == 10)      // 2^10 buckets
    assert(LshDefaults.annPlanes(Long.MaxValue / 2) == 24) // clamp ceil
  }

  test("no-parameter minhashLshPairs derives small-corpus banding and " +
       "matches the explicit measured default") {
    val spark = SparkTestSession.spark
    val sf = "/root/testdata/sf0.001"
    val docs = graft.core.Tables.t(spark, sf, "documents")
    val auto = graft.llm.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val explicit = graft.llm.Dedup.minhashLshPairs(docs, "doc_id", "text",
      k = 32, bands = 8).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == explicit) // n << 20k → derivation lands on (32, 8)
    // nHint skips the count() and forces the scaled tier explicitly
    val scaled = graft.llm.Dedup.minhashLshPairs(docs, "doc_id", "text",
      nHint = 100000L)
    assert(scaled.columns.toSeq == Seq("a", "b", "jaccard"))
  }
}
