package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.Etl
import graft.sinks.ReportXlsx
import graft.sources.{CatalogReader, CatalogXlsx, XlsxLite}
import graft.operators.CatalogValidator
import Main.{Args, Outcome}

/** The `etl_excel` and `etl_direct` workloads: closed-loop runs of the
  * reference lifecycle (`graft.Etl.runAll`) over one generated catalog.
  *
  * The ETL is a batch job: `graft.Etl.main` runs one lifecycle per JVM,
  * so the first, cold lifecycle of a fresh JVM is what its users pay
  * each run, and that is what is timed; there is no warm-up. A run times
  * `Main.passes` lifecycles. Each
  * lifecycle writes into an emptied output directory and is checked
  * against the generator's truth after it ends (untimed). */
object EtlBench {

  val CatalogId = "bench"
  /** The span whose jobs give the per-layer numbers: the first, cold
    * lifecycle, the one the end-to-end numbers time. */
  val TracedSpan = "lifecycle-0"

  def lifecycle(spark: SparkSession, input: String, outDir: String): Unit = {
    val res = Etl.runAll(spark, Etl.Args(configDir = s"$input/config",
      outputDir = outDir))
    require(res.contains(CatalogId), s"catalog $CatalogId failed")
  }

  /** One distribution of the generator's truth. */
  final case class Expected(id: String, fault: Option[String],
      status: String, output: String, columns: Seq[String],
      rows: Seq[(String, Seq[Option[Double]])])

  def loadTruth(path: String): Seq[Expected] =
    Json.read(path).get("distributions").elements().asScala.toSeq.map { d =>
      def txt(k: String) = Option(d.get(k)).filterNot(_.isNull).map(_.asText)
      val rows = Option(d.get("rows")).toSeq.flatMap(_.elements().asScala)
        .map { r =>
          val cells = r.elements().asScala.toSeq
          (cells.head.asText, cells.tail.map(c =>
            if (c.isNull) None else Some(c.asDouble)))
        }
      Expected(txt("id").get, txt("fault"), txt("status").get,
        txt("output").get,
        Option(d.get("columns")).toSeq.flatMap(_.elements().asScala)
          .map(_.asText), rows)
    }

  def run(spark: SparkSession, a: Args): Outcome = {
    val truth = loadTruth(s"${a.input}/truth.json")
    val outDir = s"${a.work}/out"
    val trace = new Trace
    val walls = Seq.newBuilder[Double]
    val cpu = Seq.newBuilder[Double]
    val latencies = Seq.newBuilder[Double]
    val failures = Seq.newBuilder[String]
    val firstTimedMs = System.currentTimeMillis()
    // the timed lifecycles, the first one cold; a traced run traces the
    // first, then times one more untraced and one more traced lifecycle
    // for the tracing overhead
    val timedPasses = Main.passes(a)
    val passes = timedPasses + (if (a.trace) 2 else 0)
    for (pass <- 0 until passes) {
      deleteTree(Paths.get(outDir))
      // start each lifecycle on a collected heap, as graft.Bench starts
      // each query
      System.gc()
      val traced = a.trace && (pass == 0 || pass == passes - 1)
      if (traced) trace.attach(spark)
      val t0 = System.nanoTime()
      val c0 = Main.processCpuS()
      if (traced) trace.span(spark, s"lifecycle-$pass")(lifecycle(spark, a.input, outDir))
      else lifecycle(spark, a.input, outDir)
      walls += (System.nanoTime() - t0) / 1e9
      cpu += Main.processCpuS() - c0
      if (traced) trace.detach(spark)
      if (pass < timedPasses) latencies ++= outputLatencies(truth, outDir)
      failures ++= verify(truth, outDir).map(f => s"lifecycle $pass: $f")
    }
    val wall = walls.result()

    val layers =
      if (!a.trace) Seq.empty
      else Layers.complete(etlLayers(spark, a, trace, TracedSpan, truth,
        outDir) + ("trace.overhead_ratio" ->
          (wall.last / wall(wall.size - 2) - 1)))
    // the traced lifecycle's jobs, in order, with the layer each was
    // attributed to: the raw material of the per-layer numbers
    val jobLog = trace.jobsIn(Set(TracedSpan)).map(j => Json.Obj(Seq(
      "job" -> Json.Num(j.id), "ms" -> Json.Num((j.end - j.start).toDouble),
      "layer" -> Json.Str(layerOf(j.firstGraftFrame, j.sqlPlan)),
      "frame" -> Json.Str(j.firstGraftFrame.getOrElse("")))))
    Outcome(firstTimedMs, wall.take(timedPasses),
      cpu.result().take(timedPasses), Seq.fill(timedPasses)(truth.size),
      latencies.result(), passes * truth.size, failures.result(), layers,
      Json.Obj(Seq("distributions" -> Json.Num(truth.size),
        "faults" -> Json.Obj(truth.filter(_.fault.isDefined).map(e =>
          e.id -> Json.Str(s"${e.fault.get} -> ${e.status}"))),
        "traced_jobs" -> Json.Arr(jobLog))))
  }

  /** Per-distribution latency of the sink loop as a reader of the
    * outputs sees it: the gaps between successive output files. (The
    * time to the first file holds the catalog, scrape and validation
    * stages; it is part of the lifecycle's wall, `run_s`.) */
  def outputLatencies(truth: Seq[Expected], outDir: String): Seq[Double] = {
    val stamps = truth.filter(_.status != "ERROR")
      .map(e => Paths.get(outDir, e.output))
      .filter(Files.exists(_))
      .map(p => Files.getLastModifiedTime(p)
        .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1e6)
      .sorted
    stamps.sliding(2).collect {
      case Seq(x, y) => math.max(0.0, y - x)
    }.toSeq
  }

  /** Compare a lifecycle's report and output files with the truth; one
    * message per mismatch. */
  def verify(truth: Seq[Expected], outDir: String): Seq[String] = {
    val reportPath =
      s"$outDir/reportes/$CatalogId/${ReportXlsx.DistributionsReportName}"
    if (!Files.exists(Paths.get(reportPath)))
      return Seq(s"no distributions report at $reportPath")
    val table = XlsxLite.toRows(XlsxLite.read(reportPath))
    val header = table.headOption.getOrElse(Seq.empty)
    val idCol = header.indexOf("distribution_identifier")
    val stCol = header.indexOf("distribution_status")
    if (idCol < 0 || stCol < 0) return Seq(s"report header $header")
    val reported = table.tail.map(r =>
      (r.lift(idCol).flatMap(Option(_)).getOrElse(""),
        r.lift(stCol).flatMap(Option(_)).getOrElse("")))
      .groupBy(_._1)
    val known = truth.map(_.id).toSet
    val extra = reported.keySet.diff(known).toSeq.sorted
      .map(id => s"$id: reported but not in the catalog")
    extra ++ truth.flatMap { e =>
      val what = e.fault.map(f => s" (fault $f)").getOrElse("")
      reported.getOrElse(e.id, Seq.empty).map(_._2) match {
        case Seq(st) if st == e.status =>
          if (e.status == "ERROR") Nil else verifyCsv(e, outDir)
        case Seq(st) => Seq(s"${e.id}: status $st, expected ${e.status}$what")
        case sts => Seq(s"${e.id}: ${sts.size} report rows$what")
      }
    }
  }

  private def verifyCsv(e: Expected, outDir: String): Seq[String] = {
    val p = Paths.get(outDir, e.output)
    if (!Files.exists(p)) return Seq(s"${e.id}: no output file")
    val lines = Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    def cells(l: String) = l.split(",", -1).toSeq.map(_.stripPrefix("\"")
      .stripSuffix("\""))
    if (lines.isEmpty) return Seq(s"${e.id}: empty output file")
    if (cells(lines.head) != e.columns)
      return Seq(s"${e.id}: columns ${cells(lines.head)}, expected ${e.columns}")
    if (lines.size - 1 != e.rows.size)
      return Seq(s"${e.id}: ${lines.size - 1} rows, expected ${e.rows.size}")
    lines.tail.zip(e.rows).zipWithIndex.collectFirst {
      case ((line, (date, values)), i) if {
        val c = cells(line)
        c.head != date || c.tail.map(v =>
          if (v.isEmpty) None else scala.util.Try(v.toDouble).toOption
            .orElse(Some(Double.NaN))) != values
      } => s"${e.id}: row ${i + 1} is '$line'"
    }.toSeq
  }

  // ------------------------------------------------------ per-layer view

  /** Module of a job, from the first `graft.` frame of its call site.
    * Jobs the batch core of `Pipeline.process` starts itself are told
    * apart by their plan: the one that writes is the scrape, the one
    * that fetches is the ingest, the rest are validation passes. */
  def layerOf(frame: Option[String], plan: Option[String]): String = {
    val f = frame.getOrElse("")
    val cls = f.reverse.dropWhile(_ != '.').drop(1).reverse.stripSuffix("$")
    val method = f.reverse.takeWhile(_ != '.').reverse
    cls match {
      case "graft.sinks.SingleFileCsv" => "sinks.csv"
      case "graft.sinks.ReportXlsx" => "sinks.report"
      case "graft.sources.Ingest" => "sources.ingest"
      case "graft.sources.CatalogReader" | "graft.sources.CatalogXlsx" |
           "graft.operators.CatalogValidator" => "sources.catalog"
      case "graft.sources.CellGrid" => "sources.scrape"
      case "graft.operators.TimeSeriesOps" => "operators.validate"
      case "graft.Pipeline" if method.contains("validateWide") =>
        "operators.validate"
      case "graft.Pipeline" if method.contains("readDistribution") =>
        "sources.ingest"
      case "graft.Pipeline" if method == "run" || method == "runXlsx" =>
        "sources.catalog"
      case "graft.Pipeline" if method.contains("process") =>
        val p = plan.getOrElse("")
        if (p.contains("InsertIntoHadoopFsRelationCommand")) "sources.scrape"
        else if (p.contains("Ingest")) "sources.ingest"
        else "operators.validate"
      case _ => "unattributed"
    }
  }

  private def etlLayers(spark: SparkSession, a: Args, trace: Trace,
      spanId: String, truth: Seq[Expected],
      outDir: String): Map[String, Double] = {
    val span = trace.spans.find(_.id == spanId).get
    val jobs = trace.jobsIn(Set(spanId))
    val byLayer = jobs.groupBy(j => layerOf(j.firstGraftFrame, j.sqlPlan))
    def secs(layer: String) =
      byLayer.getOrElse(layer, Nil).map(j => j.end - j.start).sum / 1e3
    def count(layer: String) = byLayer.getOrElse(layer, Nil).size.toDouble
    val jobUnion = Trace.unionLength(jobs.map(j => (j.start, j.end)))
    val outputs = truth.filter(_.status != "ERROR")
      .map(e => Paths.get(outDir, e.output)).filter(Files.exists(_))

    // driver-side layers, timed by calling them directly on the inputs
    val excel = a.workload == "etl_excel"
    val sources = listFiles(Paths.get(a.input, "sources"))
    val (parseS, cells) =
      if (!excel) (0.0, 0.0)
      else timed(sources.filter(_.toString.endsWith(".xlsx"))
        .map(p => XlsxLite.read(p.toString).size).sum.toDouble)
    val (catalogS, _) = timed {
      if (excel) {
        val v = CatalogXlsx.readViews(spark, s"${a.input}/catalog.xlsx")
        Seq(v.catalog, v.datasets, v.distributions, v.fields, v.themes)
          .map(_.count()).sum
      } else {
        val c = CatalogReader.readJson(spark, s"${a.input}/data.json",
          CatalogId)
        CatalogReader.distributions(c).count() +
          CatalogReader.fields(c).count() +
          CatalogValidator.violations(spark, c).count()
      }
    }
    val scratch = Files.createTempDirectory(Paths.get(a.work), "reports")
    val (reportS, _) = timed {
      ReportXlsx.writeDatasetsReport(
        truth.groupBy(_.id.takeWhile(_ != '.')).toSeq.sortBy(_._1)
          .map { case (ds, es) => ds ->
            (if (es.exists(_.status == "ERROR")) "ERROR" else "OK") },
        scratch.toString)
      ReportXlsx.writeDistributionsReport(truth.map(e =>
        ReportXlsx.DistributionReportRow(e.id.takeWhile(_ != '.'), e.id,
          e.status, e.fault.getOrElse(""), "", "", "")), scratch.toString)
    }
    deleteTree(scratch)

    Layers.common(trace, Set(spanId)) ++ Map(
      "etl.jobs" -> jobs.size.toDouble,
      "etl.jobs_per_distribution" -> jobs.size.toDouble / truth.size,
      "etl.driver_only_s" -> ((span.end - span.start) - jobUnion) / 1e3,
      "etl.unattributed_s" -> secs("unattributed"),
      "sources.catalog_s" -> catalogS,
      "sources.ingest_s" -> secs("sources.ingest"),
      "sources.ingest_mb" -> sources.map(Files.size(_)).sum / Layers.MB,
      "sources.xlsx_parse_s" -> parseS,
      "sources.cells" -> cells,
      "sources.scrape_s" -> secs("sources.scrape"),
      "sources.scrape_jobs" -> count("sources.scrape"),
      "operators.validate_s" -> secs("operators.validate"),
      "operators.validate_jobs" -> count("operators.validate"),
      "sinks.csv_s" -> secs("sinks.csv"),
      "sinks.csv_jobs" -> count("sinks.csv"),
      "sinks.csv_files" -> outputs.size.toDouble,
      "sinks.csv_mb" -> outputs.map(Files.size(_)).sum / Layers.MB,
      "sinks.report_s" -> (secs("sinks.report") + reportS))
  }

  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sorted
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}
