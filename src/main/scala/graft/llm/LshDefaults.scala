package graft.llm

/** Corpus-size-derived LSH banding defaults — the bits≈log(n) rule the
  * round-12 density sweep measured (BASELINE.md §Round-12 LSH density
  * knob): FIXED banding is quadratic in corpus density (minhash
  * candidates grew 77× for 10× data; the fixed cosine variant did not
  * finish at sf10), while banding whose bits grow with log(n) keeps
  * per-bucket occupancy — and therefore candidate generation — near
  * linear (5.2×/11× for 10× data, recall 0.91 of fixed at both scales).
  *
  * The step points below ARE the measured sweep rows; past the measured
  * range the same log-step continues (+log2 bits per ×10 corpus). Every
  * entry point keeps an explicit override: pass k/bands (or
  * bands/planes) > 0 and the derivation is skipped; pass `nHint` to
  * skip the count() when the caller already knows the corpus size. */
object LshDefaults {
  /** (k, bands) for word-shingle MinHash banding; rows/band = k/bands.
    * n ≤ 20k → (32, 8): r=4, the sf0.1-measured default.
    * n ≤ 2M  → (48, 6): r=8, the sf1/sf10-measured scaled setting.
    * beyond  → r grows +4 per ×100 (log step), bands stay 6. */
  def minhash(n: Long): (Int, Int) =
    if (n <= 20000L) (32, 8)
    else if (n <= 2000000L) (48, 6)
    else if (n <= 200000000L) (72, 6)
    else (96, 6)

  /** (bands, planesPerBand) for random-hyperplane cosine banding.
    * n ≤ 20k → (12, 8) measured default; then planes grow ~+3 per ×10
    * corpus (the sweep's sf1=15 / sf10=18 settings), bands stay 24 —
    * band count buys recall at linear cost, planes keep occupancy flat. */
  def cosine(n: Long): (Int, Int) =
    if (n <= 20000L) (12, 8)
    else if (n <= 200000L) (24, 15)
    else if (n <= 2000000L) (24, 18)
    else if (n <= 20000000L) (24, 21)
    else (24, 24)

  /** Metadata-only row count of a parquet table — a cheap `nHint`
    * source: sums the row counts recorded in each file footer, no Spark
    * job. O(#files) driver-side footer reads; at real corpus scale the
    * caller should pass the known corpus size instead, but for a
    * registered fixture query this removes the sizing count() job. */
  def parquetRowHint(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).map(_.getPath)
          .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
      else Array(p)
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Single-bucket ANN plane count: keep expected bucket occupancy near
    * `targetBucket` — planes = log2(n / targetBucket), clamped. */
  def annPlanes(n: Long, targetBucket: Long = 1000L): Int = {
    val ratio = math.max(1.0, n.toDouble / targetBucket.toDouble)
    math.min(24, math.max(4, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }
}
