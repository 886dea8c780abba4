package perfbench

import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import Main.Metric

/** Per-layer roll-ups shared by the workloads. Every workload reports
  * the whole per-layer set; a layer a workload never reaches reads 0. */
object Layers {

  val MB = 1024.0 * 1024.0

  /** The full per-layer metric list, in report order, with units. */
  val All: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s",
    "sparkentry.build_s" -> "s",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
    "scheduler.tasks" -> "count", "scheduler.driver_gap_s" -> "s",
    "executor.stage_wall_s" -> "s", "executor.task_run_s" -> "s",
    "executor.task_cpu_s" -> "s", "executor.gc_s" -> "s",
    "executor.slot_utilization" -> "ratio",
    "executor.input_mb" -> "MB", "executor.shuffle_write_mb" -> "MB",
    "executor.shuffle_read_mb" -> "MB", "executor.fetch_wait_s" -> "s",
    "executor.spill_mb" -> "MB",
    "plan.exchanges" -> "count", "plan.aggregates" -> "count",
    "plan.windows" -> "count",
    "tier.light_s" -> "s", "tier.iterative_s" -> "s",
    "tier.iterative_jobs" -> "count", "tier.candidate_pair_s" -> "s",
    "tier.candidate_pair_shuffle_mb" -> "MB",
    "etl.jobs" -> "count", "etl.jobs_per_distribution" -> "ratio",
    "etl.driver_only_s" -> "s", "etl.unattributed_s" -> "s",
    "sources.catalog_s" -> "s", "sources.ingest_s" -> "s",
    "sources.ingest_mb" -> "MB", "sources.xlsx_parse_s" -> "s",
    "sources.cells" -> "count", "sources.scrape_s" -> "s",
    "sources.scrape_jobs" -> "count",
    "operators.validate_s" -> "s", "operators.validate_jobs" -> "count",
    "sinks.csv_s" -> "s", "sinks.csv_jobs" -> "count",
    "sinks.csv_files" -> "count", "sinks.csv_mb" -> "MB",
    "sinks.report_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  /** Fill the full list from the values a workload measured. */
  def complete(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- All.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    All.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Scheduler, executor, Catalyst and plan-shape numbers over the
    * given spans. */
  def common(trace: Trace, spanIds: Set[String]): Map[String, Double] = {
    val spans = trace.spans.filter(s => spanIds(s.id))
    val jobs = trace.jobsIn(spanIds)
    val stages = trace.stagesOf(jobs)
    val wallMs = spans.map(s => s.end - s.start).sum
    val stageUnionMs = spans.map { sp =>
      Trace.unionLength(stages.map(s =>
        (math.max(s.submitted, sp.start), math.min(s.completed, sp.end))))
    }.sum
    val phases = trace.phaseSeconds(spanIds)
    val runS = stages.map(_.runMs).sum / 1e3
    Map(
      "catalyst.analysis_s" -> phases.getOrElse("analysis", 0.0),
      "catalyst.optimization_s" -> phases.getOrElse("optimization", 0.0),
      "catalyst.planning_s" -> phases.getOrElse("planning", 0.0),
      "scheduler.jobs" -> jobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> stages.map(_.tasks).sum.toDouble,
      "scheduler.driver_gap_s" -> (wallMs - stageUnionMs) / 1e3,
      "executor.stage_wall_s" ->
        stages.map(s => math.max(0L, s.completed - s.submitted)).sum / 1e3,
      "executor.task_run_s" -> runS,
      "executor.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "executor.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "executor.slot_utilization" ->
        (if (wallMs > 0) runS / (wallMs / 1e3 * Main.Cores) else 0.0),
      "executor.input_mb" -> stages.map(_.inputBytes).sum / MB,
      "executor.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / MB,
      "executor.shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / MB,
      "executor.fetch_wait_s" -> stages.map(_.fetchWaitMs).sum / 1e3,
      "executor.spill_mb" -> stages.map(_.spillBytes).sum / MB) ++
      trace.planShape(spanIds)
  }

  /** Every node of an executed plan, looking through adaptive wrappers
    * into the final plan and its query stages. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case p => p +: p.children.flatMap(nodes)
  }

  /** (exchanges, aggregates, windows) in an executed plan. */
  def shape(qe: QueryExecution): (Int, Int, Int) = {
    val ns = nodes(qe.executedPlan)
    (ns.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike |
           _: ReusedExchangeExec => true
      case _ => false
    },
      ns.count(_.isInstanceOf[BaseAggregateExec]),
      ns.count(_.isInstanceOf[WindowExecBase]))
  }
}
