package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Status reports & indicators (SURVEY §2.5 A1-A4, §2.6 O1).
  *
  * The reference accumulates per-item status dicts and then counts them
  * (base.py:978-1018). Here the report IS a DataFrame and every
  * indicator is one conditional aggregation — partial aggregation
  * (map-side combine) makes these a single cheap shuffle at any scale.
  */
object Reports {

  /** Ordered categorical rank ERROR < WARNING < OK
    * (reference base.py:903-913). */
  def statusRank(status: Column): Column =
    when(status === "ERROR", 0)
      .when(status === "WARNING", 1)
      .when(status === "OK", 2)
      .otherwise(3)

  /** O1 — sort a report by the categorical status order. */
  def sortByStatus(report: DataFrame, statusCol: String = "distribution_status",
      tieBreaks: Seq[String] = Seq()): DataFrame =
    report.orderBy(statusRank(col(statusCol)) +: tieBreaks.map(col): _*)

  /** F9/K5 — mail subject for a stage report (reference
    * base.py:863-871): "[env] Stage: catalog - DD/MM/YYYY HH:mm", with
    * the "[env]" prefix omitted when env contains "prod". The mail send
    * itself is a driver-side side effect outside the data plane. */
  def mailSubject(stage: String, catalogId: String, env: String,
      now: java.time.LocalDateTime = java.time.LocalDateTime.now()): String = {
    val ts = now.format(
      java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm"))
    val base = s"$stage: $catalogId - $ts"
    if (env != null && env.contains("prod")) base else s"[$env] $base"
  }

  /** A2 — success percentage: round(ok/total*100, 3), 0.0 when total=0
    * (reference base.py:994-1005). */
  def successPercentage(ok: Column, total: Column): Column =
    coalesce(round(ok.cast("double") * 100.0 / nullif(total, lit(0)), 3),
      lit(0.0))

  /** A3 — the indicator summary row (reference base.py:1007-1018):
    * dataset + distribution totals/ok/error and distribution success %.
    * One agg over each small report — no join needed; cross-joined into
    * a single one-row frame. */
  def indicators(datasetReport: DataFrame, distributionReport: DataFrame,
      datasetStatusCol: String = "dataset_status",
      distributionStatusCol: String = "distribution_status"): DataFrame = {
    val ds = datasetReport.agg(
      count(lit(1)).as("datasets"),
      count(when(col(datasetStatusCol) === "OK", 1)).as("datasets_ok"),
      count(when(col(datasetStatusCol) === "ERROR", 1)).as("datasets_error"))
    val dist = distributionReport.agg(
      count(lit(1)).as("distributions"),
      count(when(col(distributionStatusCol) === "OK", 1)).as("distributions_ok"),
      count(when(col(distributionStatusCol) === "ERROR", 1)).as("distributions_error"))
    ds.crossJoin(dist)
      .withColumn("distributions_percentage",
        successPercentage(col("distributions_ok"), col("distributions")))
  }
}
