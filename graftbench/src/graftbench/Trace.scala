package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as the millisecond times Spark's listener events carry. */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def ms: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Spans taken from outside the engine: the benchmark's own spans around
  * each public call, plus jobs, stages, tasks and planning phases reported
  * by Spark's public listeners. Everything stays in memory until the run
  * ends and `json` writes it out; the layer arithmetic is done by
  * `stats.py`. Jobs carry the query name through the job local property
  * `QueryKey`; planning phases are matched to a query by time, which is
  * exact because one client runs one query at a time. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()

  def span(query: String, layer: String, name: String, startMs: Double, endMs: Double,
           attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("query" -> query, "layer" -> layer, "name" -> name,
      "start" -> startMs, "end" -> endMs) ++ attrs)

  /** Planning phases already recorded in a Dataset's tracker (parsing and
    * analysis run eagerly while a query is built, before any action). */
  def phasesOf(query: String, qe: QueryExecution, action: String): Unit =
    qe.tracker.phases.foreach { case (phase, s) =>
      phases.add(Map("query" -> query, "action" -> action, "phase" -> phase,
        "start" -> s.startTimeMs.toDouble, "end" -> s.endTimeMs.toDouble))
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (e.time >= attachedAt) {
      val q = Option(e.properties).flatMap(p => Option(p.getProperty(QueryKey))).getOrElse("")
      jobStarts.put(e.jobId, (e.time, q, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (t0, q, stageIds) =>
        jobs.add(Map("query" -> q, "job" -> e.jobId, "start" -> t0.toDouble,
          "end" -> e.time.toDouble, "stages" -> stageIds))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Map("stage" -> i.stageId, "tasks" -> i.numTasks,
        "start" -> i.submissionTime.map(_.toDouble), "end" -> i.completionTime.map(_.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(Map(
        "stage" -> e.stageId, "launch" -> e.taskInfo.launchTime.toDouble,
        "finish" -> e.taskInfo.finishTime.toDouble,
        "run_s" -> m.executorRunTime / 1e3, "cpu_s" -> m.executorCpuTime / 1e9,
        "gc_s" -> m.jvmGCTime / 1e3,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ps = qe.tracker.phases
      if (ps.values.forall(_.startTimeMs >= attachedAt)) {
        ps.foreach { case (phase, s) =>
          phases.add(Map("action" -> funcName, "phase" -> phase, "start" -> s.startTimeMs.toDouble,
            "end" -> s.endTimeMs.toDouble))
        }
        // stamped with the end of planning so it falls inside its query
        val at = ps.get("planning").map(_.endTimeMs.toDouble).getOrElse(Clock.ms)
        phases.add(Map("action" -> funcName, "phase" -> "plan_shape", "start" -> at, "end" -> at) ++
          planCounts(qe.executedPlan))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private var attached = false
  /** Events arrive asynchronously, so an execution that ran before the
    * listeners were attached can still be reported after; events that
    * started before this instant (in the whole milliseconds the events
    * carry) are dropped. */
  @volatile private var attachedAt = Double.MaxValue

  def attach(): Unit = if (!attached) {
    attachedAt = math.floor(Clock.ms)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Listener events arrive asynchronously: before detaching, wait until
    * every job seen to start has been seen to end (its task events come
    * first), then a little longer for the planning phases. */
  def detach(): Unit = if (attached) {
    val deadline = System.nanoTime() + 3000000000L
    while (!jobStarts.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
    Thread.sleep(20)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    attached = false
  }

  def json: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}

object Tracer {
  /** Job local property that names the query a job belongs to. */
  val QueryKey = "graftbench.query"

  /** Operator counts of a final physical plan, looking through adaptive
    * plans, query stages and subqueries. */
  def planCounts(plan: SparkPlan): Map[String, Any] = {
    var nodes, exchanges, sorts, broadcasts = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => nodes += 1
      case other =>
        nodes += 1
        other match {
          case _: ShuffleExchangeLike => exchanges += 1
          case _: BroadcastExchangeLike => broadcasts += 1
          case _: SortExec => sorts += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Map("nodes" -> nodes, "exchanges" -> exchanges, "sorts" -> sorts, "broadcasts" -> broadcasts)
  }
}
