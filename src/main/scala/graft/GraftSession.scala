package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is configured. Two settings lists, kept
  * as plain data so a test can pin them (in a shared test JVM
  * `getOrCreate` returns the existing session and ignores static conf,
  * so only the lists themselves are checkable):
  *  - [[suite]]: the query suite's settings — Bench, Verify, PlanDump,
  *    ProfileQuery, ScaleDiag, ScaleUp and the test sessions all run
  *    them, so the oracle gate plans every query under the scan-split
  *    rules the bench times;
  *  - [[etl]]: the catalog ETL's settings (`Etl.main`).
  *
  * The core count is `SPARK_GRAFT_CPUS`, else every available
  * processor; it sets both `local[n]` and `spark.sql.shuffle.partitions`.
  */
object GraftSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def suite(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // the testdata parquet stores timestamps WITHOUT isAdjustedToUTC
    // (pyarrow naive timestamp[us]); Spark 4's default NTZ inference
    // would type them TIMESTAMP_NTZ and break unix_micros/window
    // arithmetic — read them as session-UTC instants instead
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // The sf0.1 inputs are SINGLE parquet files (lineitem ≈ 11 MB); at
    // the default 128 MB maxPartitionBytes every scan is one task and
    // the star joins run effectively single-threaded. 4 MB splits give
    // the local[32] bench real scan parallelism; production data is
    // many-file and unaffected.
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.files.openCostInBytes" -> "1m",
    // all suite queries' generated classes fit: Bench's passes 2-3 run
    // warm-codegen without per-pass recompilation (static conf)
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  def etl(cpus: Int): Seq[(String, String)] = Seq(
    "spark.app.name" -> "graft-etl",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.ansi.enabled" -> "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  def builder(cpus: Int, conf: Seq[(String, String)]): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** A main's session: `profile` at [[cpus]] cores plus `extra` on top,
    * driver logging at WARN. */
  def start(profile: Int => Seq[(String, String)],
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val n = cpus
    val spark = builder(n, profile(n) ++ extra).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Comma-separated query names, blanks dropped. */
  def names(csv: String): Seq[String] =
    csv.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Optional subset for local iteration: `SPARK_GRAFT_QUERIES`, a
    * comma-separated list of query names (unset = every query). */
  def querySubset: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_QUERIES").map(names(_).toSet)

  // Drop everything a finished query run left in the storage layer.
  // clearCache() empties the CacheManager but NOT localCheckpoint
  // blocks: those are persistent RDDs released only when the GC
  // collects the frame AND the async ContextCleaner gets around to it.
  // Across 50+ queries the lag let checkpoint blocks from earlier
  // queries pile up in the block manager and push later checkpoint
  // writes into eviction/disk (q32 measured 10.4s in-suite vs 2.3s
  // isolated, round 3). Unpersisting every registered persistent RDD
  // synchronously (blocking=true) resets storage between queries.
  def resetStorage(spark: SparkSession): Unit = {
    spark.sqlContext.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
    // Give the ContextCleaner a beat to DRAIN the reference queue the
    // gc just populated (broadcasts, shuffle files, accumulators from
    // the finished query). Cleanup RPCs and shuffle-file deletes are
    // async; without the pause they land INSIDE the next timed run —
    // measured at sf0.1 as up to 2-5× inflation on shuffle-heavy
    // queries late in the suite (q182 2.0s isolated vs 4.5s in a
    // 30-query suite, 11.6s in the full 232-query suite), and the
    // debt grows with suite size. 200 ms × 232 queries × 4 runs adds
    // ~3 min of untimed wall per bench — cheap insurance for a
    // trustworthy per-query number.
    Thread.sleep(sys.env.getOrElse("SPARK_GRAFT_RESET_SLEEP_MS", "200")
      .toLong)
  }
}
