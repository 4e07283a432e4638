package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Aggregate-projection auto-routing (reference:
  * src/Processors/QueryPlan/Optimizations/optimizeUseAggregateProjection.cpp —
  * a GROUP BY that matches a materialized projection reads the projection
  * instead of the fact table).
  *
  * The Spark shape: a summary parquet per (fact, dims, measures) holding
  * per-group partial aggregates (`cnt`, `sum_<m>`, `min_<m>`, `max_<m>`).
  * The optimizer rule rewrites a matching `Aggregate` over the fact scan
  * into a RE-aggregation over the summary scan — sums of sums, mins of
  * mins — which is exact because sum/count/min/max are self-decomposable.
  * At 100 TB this is the difference between scanning the fact table and
  * scanning a table `|groups|` rows long.
  */
object ProjectionRouting {

  case class Projection(factPath: String, dims: Set[String],
                        measures: Set[String], summaryPath: String)

  /** Registered projections per session, by fact path: a summary built in
    * one session reroutes aggregates of that session only. Weak-keyed, so
    * a dropped session takes its entries with it. */
  private val registries = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, scala.collection.concurrent.TrieMap[String, Projection]])

  private def registry(spark: SparkSession) =
    registries.computeIfAbsent(spark, _ => scala.collection.concurrent.TrieMap.empty)

  /** Build (overwrite) the summary parquet and register the routing.
    * `factPath` must be the path the fact DataFrame actually scans. */
  def ensureSummary(spark: SparkSession, factPath: String, fact: DataFrame,
                    dims: Seq[String], measures: Seq[String],
                    summaryPath: String): Unit = {
    if (!registry(spark).get(factPath).exists(p =>
        p.dims == dims.toSet && p.measures == measures.toSet &&
        p.summaryPath == summaryPath &&
        new java.io.File(summaryPath).exists())) {
      val aggs = count(lit(1)).as("cnt") +: measures.flatMap(m => Seq(
        sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m")))
      fact.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(summaryPath)
      registry(spark).put(factPath, Projection(factPath, dims.toSet, measures.toSet, summaryPath))
    }
  }

  private def scanPath(plan: LogicalPlan): Option[String] = plan match {
    case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
      fs.location.rootPaths.headOption.map(_.toUri.getPath)
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      scanPath(child)
    case _ => None
  }

  /** The optimizer rule of one session, reading that session's registry. */
  case class Route(spark: SparkSession) extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = {
      val projections = registry(spark)
      if (projections.isEmpty) return plan
      plan transform {
        case agg @ Aggregate(_, _, child, _) =>
          val routed = for {
            path <- scanPath(child)
            proj <- projections.get(path)
            rewritten <- tryRewrite(agg, proj)
          } yield rewritten
          routed.getOrElse(agg)
      }
    }

    private def tryRewrite(agg: Aggregate, proj: Projection): Option[LogicalPlan] = {
      val groupAttrs = agg.groupingExpressions.collect { case a: AttributeReference => a }
      if (groupAttrs.length != agg.groupingExpressions.length) return None
      if (!groupAttrs.map(_.name).toSet.subsetOf(proj.dims)) return None

      // The summary column each output reads, decided from names alone, so
      // an aggregate that cannot be remapped never opens the summary.
      def source(e: NamedExpression): Option[String] = e match {
        case a: AttributeReference => Some(a.name).filter(proj.dims)
        case Alias(a: AttributeReference, _) => Some(a.name).filter(proj.dims)
        case Alias(ae: AggregateExpression, _) if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Sum(a: AttributeReference, _) if proj.measures(a.name) => Some(s"sum_${a.name}")
            case Min(a: AttributeReference) if proj.measures(a.name) => Some(s"min_${a.name}")
            case Max(a: AttributeReference) if proj.measures(a.name) => Some(s"max_${a.name}")
            case Count(children) if children.forall(_.foldable) => Some("cnt")
            case _ => None
          }
        case _ => None
      }
      val sources = agg.aggregateExpressions.map(source)
      if (sources.exists(_.isEmpty)) return None
      // a summary deleted since it was registered cannot be read
      if (!new java.io.File(proj.summaryPath).exists()) return None

      val summary = graft.core.Tables.parquet(spark, proj.summaryPath)
        .queryExecution.analyzed
      val byName = summary.output.map(a => a.name -> a).toMap
      if (!(sources.flatten ++ groupAttrs.map(_.name)).forall(byName.contains)) return None

      val newAggs = agg.aggregateExpressions.zip(sources.flatten.map(byName)).map {
        case (al @ Alias(ae: AggregateExpression, name), s) =>
          val f = ae.aggregateFunction match {
            case Sum(_, mode) => Sum(s, mode)
            case _: Min => Min(s)
            case _: Max => Max(s)
            case _ => Sum(s) // count → sum of the partial counts
          }
          Alias(ae.copy(aggregateFunction = f), name)(exprId = al.exprId)
        case (e, s) => Alias(s, e.name)(exprId = e.exprId)
      }
      val newGroupings = groupAttrs.map(a => byName(a.name))
      Some(Aggregate(newGroupings, newAggs, summary, None))
    }
  }
}
