package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark harness entry point. `perfbench/run.py` builds the program,
  * generates the inputs and starts this JVM; see perfbench/NOTES.md.
  *
  *   perfbench.Main --workload etl_excel|etl_direct|query_mix --seed N
  *     --seconds S --trace 0|1 --work DIR --input DIR --artifact FILE
  *     --setup-start-ms EPOCH_MS [--data DIR --expected FILE]
  *
  * Prints one `RESULT {json}` line on stdout; everything else goes to
  * stderr or to the artifact file. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, input: String, artifact: String,
      setupStartMs: Long, data: String, expected: String,
      extra: Map[String, String])

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), kv.getOrElse("input", ""),
      need("artifact"), need("setup-start-ms").toLong,
      kv.getOrElse("data", ""), kv.getOrElse("expected", ""), kv)
  }

  /** A pass (one ETL lifecycle, one pass over the query mix) takes
    * 10-35 s on a 4-core host; a run times round(--seconds / PassSeconds)
    * passes, at least one, so the amount of work never depends on how
    * fast it goes. */
  val PassSeconds = 15.0

  def passes(a: Args): Int = math.max(1, math.round(a.seconds / PassSeconds).toInt)

  /** Outcome of one workload run, before the end-to-end roll-up. */
  final case class Outcome(firstTimedMs: Long, passWalls: Seq[Double],
      passCpu: Seq[Double], itemsPerPass: Seq[Int],
      itemLatencies: Seq[Double], attempted: Int, failures: Seq[String],
      layers: Seq[Metric], details: Json.Obj)

  /** CPU seconds this JVM has used so far, all threads. Unlike wall
    * time it does not count time the host took the CPUs away (steal). */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  final case class Metric(name: String, value: Double, unit: String)

  /** Spark runs at local[Cores]: the benchmark's sizing assumes it. */
  val Cores = 4

  def session(a: Args): SparkSession = {
    val cores = Cores.toString
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // keep every file Spark writes inside the benchmark's work dir
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.workload == "query_mix")
      // graft.Bench's settings for the query suite
      b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", "4m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .getOrCreate()
    else
      // graft.Etl.main's settings for the ETL lifecycle
      b.appName("graft-etl").getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val (stat0Total, stat0Steal) = Host.cpuStat()
    val spark = session(a)
    spark.sparkContext.setLogLevel("WARN")
    a.extra.get("mode") match {
      case Some(mode) =>
        // maintenance modes of the query mix (see make_expected.py)
        try {
          val rows = mode match {
            case "expected" => QueryMix.expectedRows(spark, a.data)
            case "oracle" => QueryMix.oracleRows
            case "plans" => QueryMix.planRows(spark, a.data)
            case other => throw new IllegalArgumentException(
              s"unknown mode $other")
          }
          rows.foreach(r => println("ROW\t" + r))
        } finally spark.stop()
        return
      case None =>
    }
    // storage resets between operations unpersist locally checkpointed
    // RDDs, which logs one WARN per RDD
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)
    val out = try {
      a.workload match {
        case "etl_excel" | "etl_direct" => EtlBench.run(spark, a)
        case "query_mix" => QueryMix.run(spark, a)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        spark.stop()
        throw e
    }
    val cpuProbe = Host.cpuProbeSeconds(spark)
    val memGbps = Host.memoryBandwidthGbps()
    val (stat1Total, stat1Steal) = Host.cpuStat()
    val sparkConf = spark.conf.getAll.toSeq.sortBy(_._1)
    spark.stop()
    val peakRss = Host.peakRssMb()

    val failed = out.failures.size
    val e2e = Seq(
      Metric("setup_s", (out.firstTimedMs - a.setupStartMs) / 1e3, "s"),
      Metric("run_s", Stats.median(out.passWalls), "s"),
      Metric("run_cpu_s", Stats.median(out.passCpu), "s"),
      Metric("items_per_s", Stats.median(out.passWalls.zip(out.itemsPerPass)
        .map { case (w, n) => n / w }), "1/s"),
      Metric("item_p50_s", Stats.harrellDavis(out.itemLatencies, 0.5), "s"))
    val reported = if (a.trace) out.layers else e2e
    def metricsObj(ms: Seq[Metric]) = Json.Obj(ms.map(m =>
      m.name -> Json.Obj(Seq("value" -> Json.Num(m.value),
        "unit" -> Json.Str(m.unit)))))
    val result = Json.Obj(Seq(
      "correct" -> Json.Bool(failed == 0),
      "attempted" -> Json.Num(out.attempted),
      "failed" -> Json.Num(failed),
      "metrics" -> metricsObj(reported)))

    val stealPct =
      if (stat1Total > stat0Total)
        100.0 * (stat1Steal - stat0Steal) / (stat1Total - stat0Total)
      else 0.0
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
    val artifact = Json.Obj(Seq(
      "workload" -> Json.Str(a.workload),
      "seed" -> Json.Num(a.seed.toDouble),
      "seconds" -> Json.Num(a.seconds),
      "trace" -> Json.Bool(a.trace),
      "result" -> result,
      "end_to_end" -> metricsObj(e2e),
      "per_layer" -> metricsObj(out.layers),
      "failed_ratio" -> Json.Num(failed.toDouble / math.max(1, out.attempted)),
      "peak_rss_mb" -> Json.Num(peakRss),
      "failures" -> Json.Arr(out.failures.map(Json.Str)),
      "pass_walls_s" -> Json.Arr(out.passWalls.map(Json.Num)),
      "pass_cpu_s" -> Json.Arr(out.passCpu.map(Json.Num)),
      "item_latencies_s" -> Json.Arr(out.itemLatencies.map(Json.Num)),
      "calibration" -> Json.Obj(Seq(
        "cpu_probe_s" -> Json.Num(cpuProbe),
        "mem_gbps" -> Json.Num(memGbps),
        "steal_pct" -> Json.Num(stealPct))),
      "spark_conf" -> Json.Obj(sparkConf.map { case (k, v) =>
        k -> Json.Str(v) }),
      "jvm_options" -> Json.Arr(jvm.getInputArguments.asScala.toSeq
        .map(Json.Str)),
      "details" -> out.details))
    Files.createDirectories(Paths.get(a.artifact).toAbsolutePath.getParent)
    Files.write(Paths.get(a.artifact),
      (artifact.render + "\n").getBytes(StandardCharsets.UTF_8))
    out.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    println("RESULT " + result.render)
  }
}
