package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The closed-loop `inventory` workload: one client builds each query
  * through `SparkEntry.queries`, materializes it, and only then sends the
  * next one.
  *
  * An untimed check pass collects and fingerprints every query first; it
  * is also the start of the warm-up. Then come a fixed number of passes,
  * each in a fresh seeded order, every execution materialized through the
  * `noop` sink: untimed warm-up passes, then timed ones. The amount of work
  * is fixed, not the time it takes, so every run times the same executions
  * of each query however fast the engine is. In a traced run every timed
  * execution happens twice in a row, once with the listeners attached and
  * once without, the order alternating, so the tracing overhead is
  * measured on the same work. */
final class Queries(spark: SparkSession, dir: String, seed: Long, tracer: Option[Tracer]) {
  private val all = graft.SparkEntry.queries
  private val rnd = new scala.util.Random(seed)

  private def error(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)

  /** Build and fingerprint each query once, untimed. */
  def check(names: Seq[String]): Seq[Map[String, Any]] = names.map { n =>
    val t0 = System.nanoTime()
    try {
      val r = Canon.of(all(n)(spark, dir))
      Map("name" -> n, "rows" -> r.rows, "fingerprint" -> r.fingerprint, "s" -> (System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Map("name" -> n, "error" -> error(e)) }
  }

  /** One timed execution: build time, then materialization time. */
  def execute(n: String, traced: Boolean): Map[String, Any] = {
    tracer.foreach(t => if (traced) t.attach() else t.detach())
    spark.sparkContext.setLocalProperty(Tracer.QueryKey, n)
    val t0 = Clock.ms
    try {
      val df: DataFrame = all(n)(spark, dir)
      val t1 = Clock.ms
      df.write.format("noop").mode("overwrite").save()
      val t2 = Clock.ms
      if (traced) tracer.foreach { t =>
        t.span(n, "", "query", t0, t2)
        t.span(n, "queries", "construct", t0, t1)
        t.span(n, "", "materialize", t1, t2)
        t.phasesOf(n, df.queryExecution, "build")
      }
      Map("name" -> n, "build_s" -> (t1 - t0) / 1e3, "run_s" -> (t2 - t1) / 1e3, "traced" -> traced)
    } catch {
      case e: Throwable => Map("name" -> n, "error" -> error(e), "traced" -> traced)
    } finally spark.sparkContext.setLocalProperty(Tracer.QueryKey, null)
  }

  /** `warm` passes over `names`, then `timed` ones (traced too in a traced
    * run); each execution carries the number of its pass. */
  def loop(names: Seq[String], warm: Int, timed: Int): Seq[Map[String, Any]] = {
    val out = ArrayBuffer[Map[String, Any]]()
    for (pass <- 0 until warm + timed; (n, i) <- rnd.shuffle(names).zipWithIndex) {
      val modes = if (tracer.isEmpty || pass < warm) Seq(false)
        else if ((pass + i) % 2 == 0) Seq(false, true) else Seq(true, false)
      modes.foreach(traced => out += execute(n, traced) + ("pass" -> pass))
    }
    tracer.foreach(_.detach())
    out.toSeq
  }
}
