package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM; `run.py` starts it and turns the record it
  * writes into metrics.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1 --dir SF_DIR
  *             --work DIR --out RECORD.json [--names FILE]
  *
  * The record holds raw measurements only: set-up times, every execution,
  * the check results, the environment fingerprint and, in a traced run,
  * every span. */
object Main {
  /** Set-up is repeated this many times; `setup_s` is the median. */
  val SetupReps = 3
  /** Passes of the inventory after its check pass: untimed warm-up passes,
    * then timed ones. */
  val WarmPasses = 1
  val TimedPasses = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val dir = a("dir")
    val work = new File(a("work"))
    val names = a.get("names").map(f => Files.readAllLines(Paths.get(f)).asScala.toSeq.filter(_.nonEmpty))
      .getOrElse(Nil)

    val envBefore = Env.probe()
    val setup = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val spark = Session.build()
      val t1 = System.nanoTime()
      graft.core.Tables.all.foreach(graft.core.Tables.t(spark, dir, _))
      val t2 = System.nanoTime()
      graft.core.Tables.registerAll(spark, dir)
      val t3 = System.nanoTime()
      if (i < SetupReps) Session.stop(spark)
      ((t3 - t0) / 1e9, spark, Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9))
    }
    val spark = setup.last._2
    val tracer = if (trace) Some(new Tracer(spark)) else None

    val body: Map[String, Any] = workload match {
      case "inventory" =>
        val q = new Queries(spark, dir, seed, tracer)
        val t0 = System.nanoTime()
        val checks = q.check(names)
        val checkS = (System.nanoTime() - t0) / 1e9
        val ok = checks.filterNot(_.contains("error")).map(_("name").toString)
        Map("checks" -> checks, "check_s" -> checkS, "warm_passes" -> WarmPasses,
          "executions" -> q.loop(ok, WarmPasses, TimedPasses))
      case "ingest_mv" =>
        new Ingest(spark, dir, seed, seconds, tracer, work).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rewrite = if (trace) Map("rewrite" -> Rewrite.time()) else Map.empty[String, Any]

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "dir" -> dir, "names" -> names, "setup_s" -> setup.map(_._1),
      "setup_parts_s" -> setup.map(_._3),
      "env" -> Map("before" -> envBefore, "after" -> Env.probe(),
        "spark" -> spark.version, "jdk" -> System.getProperty("java.version"),
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory, "nproc" -> Session.nproc,
        "conf" -> spark.conf.getAll)) ++ body ++ rewrite ++
      tracer.map(t => Map("trace_data" -> t.json)).getOrElse(Map.empty)
    Files.writeString(Paths.get(a("out")), Json(record))
    Session.stop(spark)
  }
}

/** Load and contention before and after a run (reuses `Bench.certifyEnv`). */
object Env {
  def probe(): Map[String, Any] = {
    val c = graft.Bench.certifyEnv(Session.nproc)
    Map("loadavg" -> c.loadavg, "sibling_jvms" -> c.siblingJvms, "contended" -> c.contended)
  }
}

/** The `sqlfront` layer alone: `ChSql.rewrite` over the ClickBench texts,
  * after three warm passes. */
object Rewrite {
  def time(passes: Int = 5): Map[String, Any] = {
    val texts = graft.queries.ClickBench.sparkTexts
    for (_ <- 1 to 3; t <- texts) graft.sqlfront.ChSql.rewrite(t)
    val secs = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach(graft.sqlfront.ChSql.rewrite)
      (System.nanoTime() - t0) / 1e9
    }
    Map("pass_s" -> secs, "calls_per_pass" -> texts.size)
  }
}
