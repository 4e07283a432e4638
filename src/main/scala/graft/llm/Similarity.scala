package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (reference:
  * MergeTreeIndexVectorSimilarity.h routes ORDER BY distance LIMIT k to an
  * HNSW index; our scale path is brute-force scan — which Spark
  * parallelizes perfectly — plus a random-hyperplane LSH variant that
  * prunes the scan to one bucket).
  */
object Similarity {

  /** Cast float vector to double (all kernels fold in double for
    * cross-engine-stable arithmetic). */
  private def vd(c: Column): Column = transform(c, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    graft.functions.VectorKernels.dot_product(a, b)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(vd(a), lit(0.0), (acc, x) => acc + x * x))

  /** Single-pass kernel (see VectorKernels) — bit-equal to
    * dot/(|a|*|b|) with sequential double accumulation. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorKernels.cosine_sim(a, b)

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(vd(a), vd(b), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** Brute-force cosine top-k neighbours of the vector with id `queryId`.
    * One broadcast of the query vector + one map-side scan + TakeOrdered —
    * no shuffle of the corpus. This is the exact baseline: at 100 TB it is
    * a single pass, embarrassingly parallel. */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryId: Long, k: Int): DataFrame = {
    val q = broadcast(emb.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qv")))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(q)
      .select(col(idCol), cosine(col(vecCol), col("qv")).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component: hash of
    * (plane, dim) mapped to [-1, 1). No RNG — reproducible across runs
    * and engines. */
  private def planeComponent(plane: Int, dim: Column): Column =
    (pmod(xxhash64(lit(plane), dim), lit(2000001L)).cast("double") - 1000000.0) / 1000000.0

  /** Random-hyperplane LSH bucket id (sign pattern of `nPlanes` dots). */
  def lshBucket(vecCol: Column, nPlanes: Int = 8): Column = {
    val dims = sequence(lit(0), size(vecCol) - 1)
    val bits = (0 until nPlanes).map { p =>
      val d = aggregate(
        zip_with(vd(vecCol), dims, (x, i) => x * planeComponent(p, i)),
        lit(0.0), (acc, x) => acc + x)
      when(d > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a + b)
  }

  /** ANN top-k: brute-force cosine restricted to the query's LSH bucket,
    * optionally MULTI-PROBED (Lv et al. 2007, "Multi-Probe LSH"): with
    * probeRadius = r the scan also covers every bucket whose sign
    * pattern differs from the query's in <= r planes — the standard
    * recall lever that avoids building more hash tables. Pruning factor
    * is sum_{i<=r} C(nPlanes,i) / 2^nPlanes (e.g. 7/64 at nPlanes=6,
    * r=1). Recall < 1 by construction; true near-duplicates (high
    * cosine, tiny angle) land within radius r with probability
    * >= (1 - r' angle/pi)^nPlanes summed over probes — near-certain for
    * the near-dup use case. At cluster scale the corpus would be written
    * bucketed/partitioned by this id so a probe touches 1+nPlanes
    * partitions. */
  def annTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, nPlanes: Int = 8,
              probeRadius: Int = 0): DataFrame = {
    val withBucket = emb.withColumn("bucket", lshBucket(col(vecCol), nPlanes))
    if (probeRadius == 0) {
      val q = broadcast(withBucket.filter(col(idCol) === queryId)
        .select(col(vecCol).as("qv"), col("bucket").as("qbucket")))
      withBucket.crossJoin(q)
        .filter(col("bucket") === col("qbucket") && col(idCol) =!= queryId)
        .select(col(idCol), cosine(col(vecCol), col("qv")).as("cos"))
        .orderBy(col("cos").desc, col(idCol))
        .limit(k)
    } else {
      // the probe set is enumerated DRIVER-side (one 1-row lookup) and
      // shipped as a literal IN-list: a non-literal predicate over the
      // bucket column (bit_count(XOR) <= r) cannot become a
      // PartitionFilter, so a bucketed/partitioned corpus would scan ALL
      // partitions; the literal isin prunes to sum_{i<=r} C(nPlanes,i)
      // partitions.
      val qRowOpt = withBucket.filter(col(idCol) === queryId)
        .select(col(vecCol).cast("array<double>"), col("bucket"))
        .limit(1).collect().headOption
      qRowOpt match {
        case None =>
          // absent query id: empty k-NN result, matching the radius-0 path
          emb.sparkSession.emptyDataFrame
            .select(lit(null).cast("bigint").as(idCol),
              lit(null).cast("double").as("cos"))
            .limit(0)
        case Some(qRow) =>
          val qv = array(qRow.getSeq[Double](0).map(lit): _*)
          val probes = probeBuckets(qRow.getLong(1), nPlanes, probeRadius)
          withBucket
            .filter(col("bucket").isin(probes: _*) && col(idCol) =!= queryId)
            .select(col(idCol), cosine(col(vecCol), qv).as("cos"))
            .orderBy(col("cos").desc, col(idCol))
            .limit(k)
      }
    }
  }

  /** All bucket ids within Hamming distance <= probeRadius of qBucket
    * over nPlanes sign bits — the Multi-Probe LSH probe sequence,
    * enumerated exactly (sum_{i<=r} C(nPlanes,i) ids). */
  def probeBuckets(qBucket: Long, nPlanes: Int, probeRadius: Int): Seq[Long] = {
    def masks(bits: List[Int], choose: Int): Seq[Long] =
      if (choose == 0) Seq(0L)
      else bits match {
        case Nil => Seq.empty
        case b :: rest =>
          masks(rest, choose - 1).map(_ | (1L << b)) ++ masks(rest, choose)
      }
    (0 to probeRadius).flatMap(r => masks((0 until nPlanes).toList, r))
      .map(_ ^ qBucket)
  }

  /** Persist the corpus PARTITIONED BY its LSH bucket id — the layout
    * annTopK describes: a query then reads exactly one partition
    * directory (PartitionFilters pruning), so lookup cost is
    * corpus/2^nPlanes regardless of corpus size. */
  def writeBucketedCorpus(emb: DataFrame, idCol: String, vecCol: String,
                          path: String, nPlanes: Int = 8): Unit =
    emb.withColumn("bucket", lshBucket(col(vecCol), nPlanes))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** ANN top-k against a bucketed corpus written by writeBucketedCorpus:
    * compute the query's bucket, scan ONLY that partition, rank by the
    * exact cosine kernel. */
  def annTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, vecCol: String,
                     queryVec: Seq[Double], k: Int, nPlanes: Int = 8,
                     probeRadius: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.{array => arr}
    val qv = arr(queryVec.map(lit): _*)
    val corpus = graft.core.Tables.parquet(spark, path)
    // the query's bucket: one deterministic scalar, evaluated on a 1-row
    // frame (never touches the corpus); probes ship as a literal IN-list
    // so PartitionFilters prune to 1 + sum C(nPlanes,i) directories
    val qBucket = spark.range(1)
      .select(lshBucket(qv, nPlanes).as("qb")).collect()(0).getLong(0)
    val probes = probeBuckets(qBucket, nPlanes, probeRadius)
    corpus.filter(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col(vecCol), qv).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  // ------------------------------------------------------------- IVF ANN

  /** Deterministic IVF "training": the centroid set is a hash-ranked
    * sample of the corpus itself (the nlist vectors with the smallest
    * xxhash64(id) — uniform over the corpus, reproducible across runs,
    * no RNG, no iterative k-means pass). nlist stays driver-sized
    * (~hundreds to ~10⁴) exactly like a real IVF codebook. */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String,
                   nlist: Int): Seq[Array[Double]] =
    emb.select(col(vecCol).cast("array<double>").as("v"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h"), col("v")(0))
      .limit(nlist)
      .collect()
      .map(_.getSeq[Double](0).toArray)
      .toSeq

  /** Map-side nearest-centroid (max cosine, lowest cell on ties): the
    * codebook ships as a literal, assignment is a fold over it — no
    * shuffle, no join, O(nlist) kernel calls per row, which IS the IVF
    * assignment cost. */
  def ivfCell(vecCol: Column, cents: Seq[Array[Double]]): Column = {
    val centLit = array(cents.map(c => array(c.map(lit): _*)): _*)
    val idxs = sequence(lit(0), lit(cents.size - 1))
    aggregate(idxs,
      struct(lit(-2.0).as("s"), lit(-1).as("c")),
      (acc, i) => {
        val s = cosine(vecCol, element_at(centLit, i + 1))
        when(s > acc.getField("s"),
          struct(s.as("s"), i.cast("int").as("c"))).otherwise(acc)
      }).getField("c")
  }

  /** Driver-side probe order: cells of the nprobe centroids nearest to
    * the query vector (plain Scala — the codebook is local). */
  private[llm] def probeCells(q: Array[Double], cents: Seq[Array[Double]],
                              nprobe: Int): Seq[Int] = {
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    cents.zipWithIndex.map { case (c, i) => (cos(q, c), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nprobe).map(_._2)
  }

  /** IVF ANN top-k (reference: MergeTreeIndexVectorSimilarity.h's
    * index-then-rerank shape; IVF per Jégou et al., "Product
    * quantization for nearest neighbor search", §IV-A inverted file).
    * Search scans only the nprobe cells nearest the query — expected
    * cost corpus*nprobe/nlist — and reranks with the exact cosine
    * kernel. nprobe = nlist degenerates to exact brute force (the
    * oracle-checked configuration); nprobe < nlist trades recall for a
    * pruned scan (recall asserted vs brute force in LlmSpec). At cluster
    * scale the corpus would be written partitioned by cell (same layout
    * as writeBucketedCorpus) so probes become partition-pruned reads. */
  def annTopKIvf(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, nlist: Int = 16,
                 nprobe: Int = 4): DataFrame = {
    val cents = ivfCentroids(emb, idCol, vecCol, nlist)
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val cells = probeCells(q, cents, nprobe)
    val qv = array(q.map(lit): _*)
    emb.withColumn("cell", ivfCell(col(vecCol), cents))
      .filter(col("cell").isin(cells: _*) && col(idCol) =!= queryId)
      .select(col(idCol), cosine(col(vecCol), qv).as("cos"))
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** All vector pairs with cosine >= threshold — LSH-bucketed scale path.
    * Each vector gets `bands` independent sign-pattern signatures
    * (VectorKernels.HyperplaneBandSigs); candidate pairs are generated by
    * an equi-join on (band, signature) — pair count = Σ bucket sizes², not
    * n² — then deduplicated and EXACTLY verified with the same cosine
    * kernel as the brute-force path, so precision is 1 and only recall is
    * probabilistic (a pair is missed iff it disagrees on ≥1 plane of every
    * band; for near-parallel vectors that chance is (1-p1^r)^bands with
    * p1 = 1 - θ/π). Defaults (12 bands × 8 planes) put the miss chance
    * below 1e-4 for cosine ≥ 0.98 while bucketing ~96% of unrelated pairs
    * apart; for LOWER thresholds shorten the bands and widen the count
    * (at t the collision rate is p1 = 1 - acos(t)/π; pick r, b so
    * (1-p1^r)^b is negligible). Deterministic hash planes — same
    * candidates every run.
    *
    * Shuffle discipline: the band self-join carries ONLY (id, band, sig)
    * — 24 bytes per signature, never the vectors — so candidate
    * generation's shuffle volume is bands×24 B/vector regardless of
    * dimensionality; the exact-verify step then fetches the two vectors
    * back by id with hash joins keyed on the (already shuffled-small)
    * candidate list. */
  def cosinePairsBucketed(emb: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, bands: Int = 0,
                          planesPerBand: Int = 0,
                          nHint: Long = -1L): DataFrame = {
    // size-derived banding (LshDefaults.cosine, bits≈log(n)): the
    // round-12 sweep's fixed 12×8 default ABORTED at ×100 corpus while
    // the scaled setting stayed near-linear — so scaling IS the default
    // now; explicit bands/planes override, nHint skips the count()
    require((bands > 0) == (planesPerBand > 0),
      s"cosinePairsBucketed: set BOTH bands and planesPerBand or NEITHER " +
        s"(got bands=$bands, planesPerBand=$planesPerBand)")
    val (bb, pp) =
      if (bands > 0 && planesPerBand > 0) (bands, planesPerBand)
      else LshDefaults.cosine(if (nHint >= 0) nHint else emb.count())
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    val banded = e.select(col("id"),
      posexplode(graft.functions.VectorKernels.hyperplane_band_sigs(
        col("v"), bb, pp)).as(Seq("band", "bh")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .dropDuplicates("a", "b")
    val va = e.select(col("id").as("a"), col("v").as("va"), col("nrm").as("na"))
    val vb = e.select(col("id").as("b"), col("v").as("vb"), col("nrm").as("nb"))
    cand.join(va, "a").join(vb, "b")
      .select(col("a"), col("b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ------------------------------------------------- partitioned NSW ANN

  /** Graph-index ANN: partitioned NSW — navigable-small-world graphs
    * (Malkov et al., "Approximate nearest neighbor algorithm based on
    * navigable small world graphs", Inf. Systems 2014; HNSW's base
    * layer), the reference's vector-similarity index family
    * (src/Storages/MergeTree/MergeTreeIndexVectorSimilarity.h:33 wraps
    * usearch-HNSW per data part — the SAME shard-local-graph shape used
    * here: one graph per partition, scatter-gather merge).
    *
    * Build: vectors hash-partitioned into `parts` shards; inside each
    * shard (one mapPartitions pass, no shuffle) nodes are inserted in id
    * order, each linked bidirectionally to its `m` beam-searched nearest
    * predecessors. Deterministic: hash partitioning, id-sorted
    * insertion, (dist, id) tie-breaks — same graph every run.
    *
    * Search: a beam of width `efSearch` walks each shard's graph from
    * its entry node (~efSearch·log n distance evaluations instead of a
    * shard scan); the per-shard top-k candidates (parts×k rows TOTAL,
    * driver-tiny) merge to the exact global top-k. Recall is
    * probabilistic per shard (asserted vs brute force in LlmSpec);
    * precision on returned distances is exact. At cluster scale each
    * shard's graph build is an independent executor task and the index
    * would persist per-partition — queries then touch every shard at
    * graph-walk (not scan) cost, the standard distributed-HNSW layout. */
  def annTopKNsw(emb: DataFrame, idCol: String, vecCol: String,
                 queryId: Long, k: Int, m: Int = 8, efSearch: Int = 48,
                 parts: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.filter(col(idCol) === queryId)
      .select(col(vecCol).cast("array<double>"))
      .collect()(0).getSeq[Double](0).toArray
    val base = emb.filter(col(idCol) =!= queryId)
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .repartition(parts, pmod(xxhash64(col("id")), lit(parts)))
      .as[(Long, Seq[Double])]
    val mm = m; val ef = efSearch; val kk = k // stable lambda captures
    val perShard = base.mapPartitions { iter =>
      val nodes = iter.map { case (id, v) => (id, v.toArray) }.toArray.sortBy(_._1)
      if (nodes.isEmpty) Iterator.empty
      else {
        val vecs = nodes.map(_._2)
        val norms = vecs.map(v => math.sqrt(v.map(x => x * x).sum))
        def cosTo(target: Array[Double], tNorm: Double, i: Int): Double = {
          var d = 0.0; var j = 0; val v = vecs(i)
          while (j < v.length) { d += v(j) * target(j); j += 1 }
          d / (norms(i) * tNorm)
        }
        val adj = Array.fill(nodes.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
        // beam search over the first `bound` inserted nodes
        def beam(target: Array[Double], tNorm: Double, bound: Int, width: Int): Seq[(Double, Int)] = {
          val visited = new java.util.BitSet(bound)
          // best-first frontier: highest cosine first, id tie-break
          val ord = Ordering.by[(Double, Int), (Double, Int)] { case (c, i) => (c, -i) }
          val frontier = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord)
          val result = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](ord.reverse)
          val start = 0
          val c0 = cosTo(target, tNorm, start)
          visited.set(start); frontier.enqueue((c0, start)); result.enqueue((c0, start))
          while (frontier.nonEmpty) {
            val (c, n) = frontier.dequeue()
            // min of result when full — stop expanding beyond the beam
            if (result.size >= width && c < result.head._1) frontier.clear()
            else adj(n).foreach { nb =>
              if (nb < bound && !visited.get(nb)) {
                visited.set(nb)
                val cn = cosTo(target, tNorm, nb)
                if (result.size < width || cn > result.head._1) {
                  frontier.enqueue((cn, nb)); result.enqueue((cn, nb))
                  if (result.size > width) result.dequeue()
                }
              }
            }
          }
          result.toSeq.sortBy { case (c, i) => (-c, i) }
        }
        var i = 1
        while (i < nodes.length) {
          val links = beam(vecs(i), norms(i), i, math.max(ef, mm)).take(mm)
          links.foreach { case (_, nb) => adj(i) += nb; adj(nb) += i }
          i += 1
        }
        val qNorm = math.sqrt(q.map(x => x * x).sum)
        beam(q, qNorm, nodes.length, math.max(ef, kk)).take(kk)
          .map { case (c, n) => (nodes(n)._1, c) }.iterator
      }
    }.toDF("id", "cos")
    perShard.orderBy(col("cos").desc, col("id")).limit(k)
      .select(col("id").as(idCol), col("cos"))
  }

  /** All vector pairs with cosine >= threshold (embedding near-dup).
    * Exact quadratic implementation — the verification/bounded-subset
    * path; use cosinePairsBucketed for the corpus-scale path. */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    // norms computed once per ROW (not per pair) — the quadratic part is
    // a single dot-product kernel; values are bit-identical to
    // dot/(sqrt(ssa)*sqrt(ssb)) computed pairwise.
    val e = emb.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    e.as("x").join(e.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ------------------------------------------- clustering / semantic dedup

  /** Nearest-seed assignment by max cosine (lowest seed id on ties /
    * first-win strict compare). `seeds` are (sid, vector) pairs sorted by
    * sid; they ship as a literal fold — map-side, no join, no shuffle. */
  def nearestSeed(vecCol: Column, seeds: Seq[(Long, Array[Double])]): Column = {
    val sorted = seeds.sortBy(_._1)
    val centLit = array(sorted.map(_._2).map(c => array(c.map(lit): _*)): _*)
    val sidLit = array(sorted.map(_._1).map(lit): _*)
    val idxs = sequence(lit(0), lit(sorted.size - 1))
    aggregate(idxs,
      struct(lit(-2.0).as("s"), lit(-1L).as("c")),
      (acc, i) => {
        val s = cosine(vecCol, element_at(centLit, i + 1))
        when(s > acc.getField("s"),
          struct(s.as("s"), element_at(sidLit, i + 1).as("c"))).otherwise(acc)
      }).getField("c")
  }

  /** Collect (sid, vector-as-double) seed pairs from a DataFrame filter —
    * the codebook is driver-sized by construction, like an IVF codebook. */
  def collectSeeds(emb: DataFrame, idCol: String, vecCol: String,
                   pred: Column): Seq[(Long, Array[Double])] =
    emb.filter(pred)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .toSeq

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster the embedding
    * space, then inside each cluster drop every vector that has a
    * lower-id near-duplicate (cosine >= threshold); the lowest id of each
    * near-dup group survives. The in-cluster pair join is the algorithm's
    * own cost model — clusters are corpus/nlist sized, so the quadratic
    * term is (corpus/nlist)² per cluster, embarrassingly parallel across
    * clusters; nothing global is quadratic. Returns (id, cell, keep). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    seeds: Seq[(Long, Array[Double])],
                    threshold: Double): DataFrame = {
    val e = emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      nearestSeed(col(vecCol), seeds).as("cell"))
    val dropped = e.as("x").join(e.as("y"),
        col("x.cell") === col("y.cell") && col("x.id") < col("y.id"))
      .filter(cosine(col("x.v"), col("y.v")) >= threshold)
      .select(col("y.id").as("id")).distinct()
      .withColumn("dropped", lit(true))
    e.select(col("id"), col("cell"))
      .join(dropped, Seq("id"), "left")
      .select(col("id"), col("cell"), coalesce(!col("dropped"), lit(true)).as("keep"))
  }

  /** Lloyd's k-means over the embedding column (cosine-normalized L2 =
    * spherical k-means when inputs are normalized; plain L2 here).
    * Deterministic: seeds = the k lowest-id vectors; each iteration is
    * one map-side assignment fold (broadcast centroids as literals) plus
    * one groupBy(cell) partial-mean — a single shuffle of k×dim partial
    * sums per executor, never the vectors themselves. Returns the final
    * (cell -> centroid) list; assignment of the corpus is one more
    * map-side pass with `nearestSeed`-style fold. */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): Seq[(Long, Array[Double])] = {
    var cents = collectSeeds(
      emb.orderBy(col(idCol)).limit(k), idCol, vecCol, lit(true))
      .zipWithIndex.map { case ((_, v), i) => (i.toLong, v) }
    var it = 0
    while (it < iters) {
      val assigned = emb.select(col(vecCol).cast("array<double>").as("v"),
        nearestSeed(col(vecCol), cents).as("cell"))
      val dim = cents.head._2.length
      val sums = assigned.groupBy("cell")
        .agg(count(lit(1)).as("n"),
          array((0 until dim).map(d =>
            sum(element_at(col("v"), d + 1))): _*).as("s"))
        .collect()
      val updated = sums.map { r =>
        val cell = r.getLong(0); val n = r.getLong(1)
        val s = r.getSeq[Double](2)
        (cell, s.map(_ / n).toArray)
      }.sortBy(_._1).toSeq
      // empty cells keep their previous centroid
      val have = updated.map(_._1).toSet
      cents = (updated ++ cents.filterNot(c => have.contains(c._1))).sortBy(_._1)
      it += 1
    }
    cents
  }

  /** Within-cluster inertia (sum of squared L2 to the assigned centroid)
    * — the quantity Lloyd iterations are non-increasing on. */
  def kmeansInertia(emb: DataFrame, vecCol: String,
                    cents: Seq[(Long, Array[Double])]): Double = {
    val sorted = cents.sortBy(_._1)
    val centLit = array(sorted.map(_._2).map(c => array(c.map(lit): _*)): _*)
    val cell = nearestSeed(col(vecCol), sorted)
    emb.select(
        pow(l2Distance(col(vecCol), element_at(centLit, cell.cast("int") + 1)), 2).as("d2"))
      .agg(sum("d2")).collect()(0).getDouble(0)
  }
}
