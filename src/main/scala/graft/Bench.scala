package graft

/** Benchmark main (driver contract): times every SparkEntry query at the
  * given scale factor and prints ONE JSON line.
  *
  * Per BASELINE.md the JVM is warmed first (full pass, discarded). The
  * timed pass reuses the warm-up's generated classes (and their JIT-compiled
  * code) only because `Tables.session` sizes Spark's codegen class cache
  * above the inventory's ~3,200 classes; at Spark's default of 100 entries
  * a full warm-up leaves only the last queries' classes, and the timed pass
  * recompiles nearly every query. Every pass still rewrites, plans and
  * executes each query. */
object Bench {

  /** Environment self-certification (VERDICT r9 §wrong-1): driver-side runs
    * have shown 2.7–4.2× inflation on CPU-bound kernels for three rounds,
    * caused by sibling JVMs (sbt, other builds) competing for cores. The
    * bench can't fix that, but it can make it visible: record 1-min loadavg
    * and the number of OTHER java processes before the timed passes, and
    * emit both in the JSON. A run with `contended:true` is self-declared
    * untrustworthy for cross-round comparison. */
  case class EnvCert(loadavg: Double, siblingJvms: Int, contended: Boolean) {
    def json: String =
      s""""env":{"loadavg":$loadavg,"sibling_jvms":$siblingJvms,"contended":$contended}"""
  }

  def certifyEnv(cpus: Int): EnvCert = {
    val load =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    // The bench itself is launched through sbt, so the sbt launcher JVM is
    // always our ancestor — exclude the whole ancestor chain (it idles
    // while the run executes); only UNRELATED JVMs signal contention.
    val excluded = {
      var ids = Set(ProcessHandle.current().pid())
      var p = ProcessHandle.current().parent()
      while (p.isPresent) { ids += p.get.pid(); p = p.get.parent() }
      ids
    }
    val siblings =
      try {
        import scala.jdk.CollectionConverters._
        ProcessHandle.allProcesses().iterator().asScala.count { p =>
          !excluded(p.pid()) &&
            p.info().command().map[Boolean](_.endsWith("java")).orElse(false)
        }
      } catch { case _: Throwable => -1 }
    // Contended = any unrelated JVM alive, or pre-existing load well past
    // what our own sbt compile + JVM startup leave in the 1-min average
    // (~2-3 on this 32-core box). The raw numbers are emitted either way
    // so a reader can judge borderline runs.
    EnvCert(load, siblings, contended = load > 8.0 || siblings > 0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.session(s"local[$cpus]", shufflePartitions = cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // Optional args: bench only these queries (local iteration; the
    // driver passes none and times the full inventory).
    val only = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    val env = certifyEnv(cpus.toInt)
    if (env.contended)
      System.err.println(s"[bench] WARNING: environment contended " +
        s"(loadavg=${env.loadavg}, sibling JVMs=${env.siblingJvms}); " +
        "timings below are tagged contended:true and not comparable " +
        "to clean-run baselines")
    names.foreach(run) // warm-up pass (discarded)
    // median of 3 timed passes: single-pass numbers drift a few hundred
    // ms on small queries (JIT/GC noise made q_rollup/q2 look like
    // regressions across rounds); the median pins the steady state
    val passes = (1 to 3).map(_ => names.map(n => n -> run(n)).toMap)
    val results = names.map { n =>
      val ts = passes.map(_(n)).sorted
      n -> (if (ts.head < 0) ts.head else ts(ts.length / 2))
    }

    def fmt(v: Double) = f"$v%.3f"
    val total = results.map(_._2).filter(_ >= 0).sum
    // The driver captures only the TAIL of process output (~4 KB): a
    // 180-entry per-query map overflows it and the line arrives unparseable
    // (BENCH_r01/r02 both had "parsed": null). stdout gets a compact line
    // with a headline subset; the full per-query map goes to
    // BENCH_local.json.
    val headline = Seq(
      "q1_pricing_summary", "q2_filter_project", "q3_shipping_priority",
      "q5_local_supplier", "q6_forecast_revenue", "q_dedup_exact",
      "q_dedup_minhash_lsh", "q_dedup_embedding_lsh", "q_sim_topk",
      "q_asof_join", "q_window_funnel", "q_quantiles", "q_topk",
      "q_any_join", "q_limit_by", "q_text_stats", "q_window_tumble",
      "q_rollup", "q_train_split", "q_uniq_approx",
      // r12 (verdict task 7): the actually-expensive post-LLM-era operators
      // belong in the tracked dict so regressions are headline-visible
      "q_dedup_components", "q_semantic_components", "q_groups_frame_sweep",
      "q_image_dhash",
      // r15: ClickBench rows (the reference's own published workload) —
      // a representative subset in the compact stdout line; all 43 are
      // in BENCH_local.json
      "q_cb_02", "q_cb_09", "q_cb_18", "q_cb_29", "q_cb_32", "q_cb_33")
    val rmap = results.toMap
    val qs = headline.flatMap(n => rmap.get(n).filter(_ >= 0).map(v =>
      "\"" + n + "\":" + fmt(v))).mkString("{", ",", "}")
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},${env.json},"queries":$qs,"sf":"$sfDir"}"""
    val fullQs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},${env.json},"queries":$fullQs,"sf":"$sfDir"}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_local.json"), fullJson + "\n")
    println(json)
    spark.stop()
  }
}
