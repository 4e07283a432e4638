package graft.llm

import graft.core.Tables
import graft.functions.TextHashes
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora (reference similarity and
  * dedup family: FunctionsStringHash.cpp minHash/wordShingle variants —
  * re-expressed as declarative Spark plans that scale by shuffling only
  * ids + band hashes, never full text, between stages).
  */
object Dedup {

  /** Distinct word n-gram shingles of `text`. Rows with fewer than n
    * tokens produce an empty array (callers filter if needed). */
  def wordShingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    // n-grams through the TokenNgrams codegen kernel (r19): the
    // transform(sequence, i -> array_join(slice(...))) composition ran
    // an interpreted lambda per position (CodegenFallback)
    when(size(toks) >= n,
      array_distinct(graft.functions.TextHashes.token_ngrams(toks, n)))
      .otherwise(array(array_join(toks, " ")))
  }

  /** Exact Jaccard between two distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.VectorKernels.jaccard_sim(a, b)

  /** All ordered pairs (a<b) from a sorted id array, as structs. */
  private def bucketPairs(ids: Column): Column =
    flatten(transform(sequence(lit(1), size(ids) - 1), i =>
      transform(slice(ids, i + 1, size(ids) - i), j =>
        struct(element_at(ids, i).as("a"), j.as("b")))))

  /** MinHash + LSH near-duplicate pairs.
    *
    * Plan shape (the 100 TB story):
    *  1. per-doc shingle set + k-hash one-pass MinHash signature (map-only)
    *  2. signature sliced into `bands` bands of k/bands rows; each band
    *     hashed -> (bandIdx, bandHash, id) — the ONLY thing shuffled
    *  3. ONE groupBy (bandIdx, bandHash) -> in-bucket pair generation
    *     (no self-join: the signature subtree is computed exactly once)
    *  4. candidate pairs (few by construction) re-joined to raw text,
    *     exact Jaccard verification on just those pairs
    *
    * With j >= 0.9 near-dups, k=32/bands=8 gives detection probability
    * 1-(1-0.9^4)^8 ≈ 1-3e-8 per pair; candidates are verified exactly so
    * false positives never escape. `maxBucket` skips degenerate buckets
    * (giant near-identical clusters — at corpus scale those are handled
    * by the exact-hash pass, and skipping bounds worst-case skew).
    *
    * Returns (a, b, jaccard) with a < b, jaccard >= threshold.
    */
  /** (id, band, bh) band-signature rows — the only thing LSH shuffles.
    * Signature straight from tokens; no shingle strings materialized. */
  private def bandSignatureRows(docs: DataFrame, idCol: String, textCol: String,
                                k: Int, bands: Int, shingleN: Int): DataFrame = {
    val rows = k / bands
    val sig = docs.select(col(idCol).as("id"),
      graft.functions.VectorKernels.minhash_tokens_sig(
        split(col(textCol), " "), shingleN, k).as("sig"))
    sig.select(col("id"), explode(array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rows).map(r => element_at(col("sig"), b * rows + r + 1)): _*).as("bh"))): _*)).as("s"))
      .select(col("id"), col("s.band"), col("s.bh"))
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int = 0, bands: Int = 0, shingleN: Int = 3,
                      threshold: Double = 0.7, maxBucket: Int = 10000,
                      nHint: Long = -1L): DataFrame = {
    // banding defaults DERIVE from corpus size (bits≈log(n) — the
    // measured difference between near-linear and quadratic at scale);
    // explicit k/bands still override, nHint skips the count()
    require((k > 0) == (bands > 0),
      s"minhashLshPairs: set BOTH k and bands or NEITHER (got k=$k, bands=$bands)")
    val (kk, bb) =
      if (k > 0 && bands > 0) (k, bands)
      else LshDefaults.minhash(if (nHint >= 0) nHint else docs.count())
    val bandRows = bandSignatureRows(docs, idCol, textCol, kk, bb, shingleN)
    val cand = bandRows.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(bucketPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b")).distinct()
    // Verification re-joins raw text and shingles ONLY the candidate pairs
    // (few by construction) — full shingle sets are never materialized
    // twice nor shuffled.
    val txt = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    cand
      .join(txt.select(col("id").as("a"), col("t").as("ta")), "a")
      .join(txt.select(col("id").as("b"), col("t").as("tb")), "b")
      .select(col("a"), col("b"),
        jaccard(wordShingles(col("ta"), shingleN), wordShingles(col("tb"), shingleN)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Cross-table fuzzy join (entity resolution / incremental dedup): all
    * (left, right) pairs with word-shingle Jaccard >= threshold, found by
    * an equi-join of per-side MinHash band signatures on (band, bandhash)
    * — the standard "dedup a new crawl batch against the existing corpus"
    * operator. Shuffles carry only (id, band, bh) rows; degenerate
    * buckets are bounded per side by `maxBucket` before the join
    * (LSH skew guard); candidates are verified EXACTLY, so precision is 1
    * and only recall is probabilistic (same bound as minhashLshPairs). */
  def minhashLshJoin(left: DataFrame, right: DataFrame,
                     idCol: String, textCol: String,
                     k: Int = 0, bands: Int = 0, shingleN: Int = 3,
                     threshold: Double = 0.7, maxBucket: Int = 10000,
                     nHint: Long = -1L): DataFrame = {
    // size-derived banding (see minhashLshPairs); the LARGER side
    // drives bucket occupancy, so it picks the banding for both
    require((k > 0) == (bands > 0),
      s"minhashLshJoin: set BOTH k and bands or NEITHER (got k=$k, bands=$bands)")
    val (kk, bb) =
      if (k > 0 && bands > 0) (k, bands)
      else LshDefaults.minhash(
        if (nHint >= 0) nHint else math.max(left.count(), right.count()))
    // One explicit exchange on the bucket key per side (guide §2.4):
    // the bucket-size count AND the filter-back join then both run
    // partition-local on it, and — critically — the repartition's
    // Exchange is the reuse point, so the CPU-heavy MinHash signature
    // subtree is computed ONCE per side (r18 plan: each side's band
    // rows were built twice, once under the count aggregate and once
    // under the join — 6 scans of `documents` for 2 inputs). The
    // downstream lb⋈rb candidate join is keyed (band, bh) too, so it
    // inherits the same partitioning without another exchange.
    def bounded(b: DataFrame) = {
      val p = b.repartition(col("band"), col("bh"))
      // count(id), not count(1): with count(1) column pruning drops `id`
      // below the aggregate, making the two repartition subtrees differ
      // and defeating runtime exchange reuse (verified on the executed
      // plan) — the signature kernel then runs twice per side. ids are
      // non-null here, so count(id) == count(1).
      val cnt = p.groupBy(col("band"), col("bh")).agg(count(col("id")).as("__c"))
      p.join(cnt.filter(col("__c") <= maxBucket), Seq("band", "bh")).drop("__c")
    }
    val lb = bounded(bandSignatureRows(left, idCol, textCol, kk, bb, shingleN))
    val rb = bounded(bandSignatureRows(right, idCol, textCol, kk, bb, shingleN))
    val cand = lb.select(col("band"), col("bh"), col("id").as("a"))
      .join(rb.select(col("band"), col("bh"), col("id").as("b")), Seq("band", "bh"))
      .select(col("a"), col("b")).distinct()
    val lt = left.select(col(idCol).as("a"), col(textCol).as("ta"))
    val rt = right.select(col(idCol).as("b"), col(textCol).as("tb"))
    cand.join(lt, "a").join(rt, "b")
      .select(col("a"), col("b"),
        jaccard(wordShingles(col("ta"), shingleN),
          wordShingles(col("tb"), shingleN)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs char-n-gram Jaccard over HASHED shingle sets
    * (quadratic — for bounded subsets; each doc is reduced to a sorted
    * long array once, so the pair loop is a pure numeric merge). */
  def exactCharNgramPairs(docs: DataFrame, idCol: String, textCol: String,
                          n: Int, threshold: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("id"),
      graft.functions.VectorKernels.char_ngram_hashes(col(textCol), n).as("g"))
    sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        graft.functions.VectorKernels.jaccard_sorted_longs(col("x.g"), col("y.g")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact all-pairs n-gram Jaccard (quadratic — for bounded subsets or
    * verification; the LSH path above is the scale path). */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingles: Column => Column,
                        threshold: Double): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), shingles(col(textCol)).as("g"))
    sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        jaccard(col("x.g"), col("y.g")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-duplicate pairs: 64-bit fingerprints, candidates from
    * 4×16-bit band buckets (hamming ≤ 3 ⇒ some band matches exactly),
    * verified by hamming distance. Same shuffle-only-ids shape as MinHash. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    fingerprintPairs64(docs.select(col(idCol).as("id"),
      TextHashes.sim_hash64(split(col(textCol), " ")).as("h")), maxHamming)

  /** Near-dup pairs over ANY 64-bit fingerprint column (`id`, `h`) — the
    * banded-hamming core shared by simhashPairs and the image dHash path:
    * 4×16-bit band buckets, in-bucket pair generation, hamming verify. */
  def fingerprintPairs64(fp: DataFrame, maxHamming: Int = 3): DataFrame = {
    val bandRows = fp.select(col("id"), col("h"), explode(array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("h"), b * 16).bitwiseAND(0xffffL).as("bh"))): _*)).as("s"))
      .select(col("id"), col("h"), col("s.band"), col("s.bh"))
    // one groupBy per bucket, pairs generated in-bucket (same shape as
    // minhashLshPairs — fingerprint subtree computed once, no self-join)
    bandRows.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(struct(col("id"), col("h")))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(flatten(transform(sequence(lit(1), size(col("ms")) - 1), i =>
        transform(slice(col("ms"), i + 1, size(col("ms")) - i), j =>
          struct(element_at(col("ms"), i).getField("id").as("a"),
            j.getField("id").as("b"),
            element_at(col("ms"), i).getField("h").as("ha"),
            j.getField("h").as("hb")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        TextHashes.hamming64(col("p.ha"), col("p.hb")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Incremental (streaming-intake) MinHash-LSH dedup — call per
    * microbatch (e.g. from foreachBatch). Finds near-dup pairs of the
    * batch against EVERYTHING SEEN SO FAR plus intra-batch pairs, then
    * appends the batch's signatures and text to the state store.
    *
    * Scale shape: per batch the join touches only buckets the batch's
    * band hashes land in (shuffle ∝ batch, history side prunes on the
    * band/bh join keys); the state store holds (id, band, bh) postings
    * and (id, text) — text is read back ONLY for verified candidates.
    * This is the streaming analog of minhashLshPairs: work per batch
    * never grows with corpus size, only candidate count.
    *
    * Returns verified (a, b, jaccard) with a = earlier id, b = batch id.
    */
  def incrementalLshDedup(batch: DataFrame, idCol: String, textCol: String,
                          statePath: String, k: Int = 32, bands: Int = 8,
                          shingleN: Int = 3, threshold: Double = 0.7,
                          batchId: Long = -1L): DataFrame = {
    // NOTE: k/bands stay FIXED defaults here (not LshDefaults-derived) —
    // band hashes must be computed identically for the LIFE of the state
    // store or cross-batch joins silently miss; size the banding up front
    // with LshDefaults.minhash(expected corpus size) when creating it.
    //
    // batchId >= 0 makes the state append IDEMPOTENT: signatures/docs
    // land in a batch=<id> partition written with dynamic partition
    // OVERWRITE, so a microbatch redelivered after a crash (sink write
    // done, checkpoint commit lost — the double-write window) replaces
    // its own partition instead of appending a second copy. Same
    // mechanism as Streams.mvWriteBatch; reference guarantee:
    // DeduplicationTokenTransforms insert-dedup survives process death.
    val spark = batch.sparkSession
    val bandsPath = s"$statePath/bands"
    val docsPath = s"$statePath/docs"
    val newBands = bandSignatureRows(batch, idCol, textCol, k, bands, shingleN)
    val newDocs = batch.select(col(idCol).as("id"), col(textCol).as("t"))

    val histExists = new java.io.File(bandsPath).exists()
    // one statePath must be used consistently: batchId-partitioned and
    // append-mode layouts don't mix (ownFiltered and the idempotent
    // overwrite both key on the batch partition column)
    if (histExists) {
      val partitioned = Tables.parquet(spark, bandsPath).columns.contains("batch")
      require(partitioned == (batchId >= 0),
        s"incrementalLshDedup: state at $statePath is " +
          (if (partitioned) "batchId-partitioned" else "append-mode") +
          "; mixing batchId and non-batchId calls on one statePath is not supported")
    }
    // a redelivered batch must not see ITS OWN crashed first attempt as
    // history (it would pair every batch doc with its stale copy)
    def ownFiltered(df: DataFrame): DataFrame =
      if (batchId >= 0 && df.columns.contains("batch"))
        df.filter(col("batch") =!= batchId)
      else df
    // cross-batch candidates: batch band rows joined to historical postings
    val crossCand =
      if (!histExists) spark.emptyDataFrame.select(lit(0L).as("a"), lit(0L).as("b")).limit(0)
      else newBands.join(
          ownFiltered(Tables.parquet(spark, bandsPath)).select(
            col("id").as("hist_id"), col("band"), col("bh")),
          Seq("band", "bh"))
        .select(col("hist_id").as("a"), col("id").as("b")).distinct()
    // intra-batch candidates: same in-bucket pair generation as the batch path
    val intraCand = newBands.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(bucketPairs(col("ids"))).as("p"))
      .select(col("p.a"), col("p.b")).distinct()
    val cand = crossCand.unionByName(intraCand).distinct()

    val histText =
      if (!histExists) newDocs
      else ownFiltered(Tables.parquet(spark, docsPath))
        .select(col("id"), col("t")).unionByName(newDocs)
    val verified = cand
      .join(histText.select(col("id").as("a"), col("t").as("ta")), "a")
      .join(newDocs.select(col("id").as("b"), col("t").as("tb")), "b")
      .select(col("a"), col("b"),
        jaccard(wordShingles(col("ta"), shingleN), wordShingles(col("tb"), shingleN)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .cache()
    verified.count() // materialize before mutating state
    if (batchId >= 0) {
      // per-WRITE dynamic overwrite (DataFrameWriter option, not session
      // conf — mutating the session conf would silently change the
      // semantics of unrelated later partitioned overwrites)
      newBands.withColumn("batch", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(bandsPath)
      newDocs.withColumn("batch", lit(batchId))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(docsPath)
    } else {
      newBands.write.mode("append").parquet(bandsPath)
      newDocs.write.mode("append").parquet(docsPath)
    }
    verified
  }

  /** Token n-gram spans that occur in more than one document — the
    * exact-substring duplication signal (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"; suffix-array spans
    * approximated by fixed-length token n-grams). One explode + one
    * groupBy KEYED ON the 8-byte xxhash64 of the gram, so the
    * count-distinct shuffle carries (hash, id) = 16 B/row instead of the
    * full ~n-word string (~8x the text bytes at corpus scale); the gram
    * string itself survives only as one `first(gram)` representative per
    * group for reporting (hash collisions merging two distinct grams are
    * the standard accepted risk of hash-keyed span dedup, ~2^-64 per
    * pair). Returns (gram, n_docs, n_occurrences). */
  def duplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 8, minDocs: Int = 2): DataFrame = {
    val grams = graft.functions.TextHashes.token_ngrams(split(col(textCol), " "), n)
    docs.select(col(idCol).as("id"), explode(grams).as("gram"))
      .groupBy(xxhash64(col("gram")).as("gh"))
      .agg(first(col("gram")).as("gram"),
        countDistinct(col("id")).as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") >= minDocs)
      .select("gram", "n_docs", "n_occurrences")
  }

  /** Exact duplicate groups by full-text hash (the trivial-but-essential
    * first pass of any corpus dedup). */
  def exactDupStats(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("copies"))
      .groupBy().agg(
        count(lit(1)).as("n_distinct"),
        sum(col("copies")).as("n_docs"),
        sum(when(col("copies") > 1, col("copies") - 1).otherwise(0L)).as("n_redundant"))
}
