package graft

import graft.functions.Stemmer
import graft.ops.InvertedIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Porter stemmer vectors from the published algorithm (Porter 1980,
  * "An algorithm for suffix stripping" — the step examples in the paper)
  * plus the inverted-index hasToken path. */
class StemmerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // single source of truth shared with the driver-checked q_text_stem
  val vectors = graft.llm.PorterPaperVectors.vectors

  test("Porter stemmer matches the paper's step examples") {
    val df = vectors.map(_._1).toDF("w")
      .select(col("w"), Stemmer.porter_stem(col("w")).as("s"))
    val got = df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val bad = vectors.filter { case (in, want) => got(in) != want }
    assert(bad.isEmpty,
      bad.map { case (in, want) => s"$in: got ${got(in)}, want $want" }.mkString("; "))
  }

  test("inverted index lookup pushes the token equality into the scan") {
    val docs = graft.core.Tables.t(spark, "/root/testdata/sf0.001", "documents")
    val path = s"${graft.core.Tables.scratchDir(spark)}/invidx/spec_documents"
    InvertedIndex.build(docs, "doc_id", "text", path)
    val lookup = InvertedIndex.lookup(spark, path, "data")
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(token,data)"),
      s"token filter not pushed:\n${plan.take(2000)}")
    // index path must agree with the direct text predicate
    val viaIndex = InvertedIndex.hasTokenViaIndex(docs, "doc_id", spark, path, "data")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val direct = docs.filter(array_contains(
        split(lower(col("text")), "[^a-z0-9]+"), "data"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaIndex == direct && viaIndex.nonEmpty)
  }
}
