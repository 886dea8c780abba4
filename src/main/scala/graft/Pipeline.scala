package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.model.Frequency
import graft.operators.{CatalogValidator, Reports, TimeSeriesOps}
import graft.sinks.{ReportXlsx, SingleFileCsv}
import graft.sources.{CatalogReader, CatalogXlsx, CellGrid, Ingest}

import scala.util.Try

/** The reference's ETL lifecycle re-expressed Spark-first (SURVEY §3):
  *
  *   catalog (JSON S3 or 5-sheet XLSX S4) → TS manifest w/ method (P1/P5)
  *   → ingest stage (S1/S2, D2 dedup, S8 workbook-grid cache)
  *   → BATCHED scrape of every excel distribution (S7 via
  *     CellGrid.scrapeAll: all workbooks in one grid, two broadcast
  *     joins) + per-item CSV/TXT reads (S5/S6)
  *   → ONE validation battery for both paths
  *     (TimeSeriesOps.distributionVerdicts over the long form: period
  *     counts, null/duplicate times, missing ratios, frequency gaps on
  *     each distribution's time index) plus the excel grid checks
  *     (header drift, T2 trim) — each a fixed number of jobs for the
  *     whole catalog
  *   → ordered single-file CSV sink (K1), every file in one job
  *   → status reports + indicators (A1-A3, O1)
  *
  * Fault isolation (§2.10): spec assembly and each file read are
  * wrapped in Try, and each final write is captured by the sink's job;
  * a failure becomes an ERROR report row with the exception repr, never
  * a job abort — the reference's try/except per distribution, kept as
  * data. A batch that throws is rerun per workbook (excel) or per file
  * (direct); a group that still throws becomes ERROR rows for its
  * distributions.
  *
  * Scale shape: the driver loop of the reference (one python iteration
  * per distribution, reference base.py:155-207) becomes O(1) Spark jobs
  * on both paths regardless of distribution count: each path's long
  * form is computed once and kept, the battery judges it, and ONE K1
  * job (SingleFileCsv.writeAll) writes every output file. The only
  * per-distribution cost left is on the direct path: the read of each
  * file's header (schema inference) when its frame is planned.
  */
object Pipeline {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class DistributionResult(
      catalogId: String, datasetId: String, distributionId: String,
      status: String, message: String, outputPath: String, rows: Long)

  final case class RunResult(report: DataFrame, indicators: DataFrame)

  /** One time-series distribution to process (the metadata plane is
    * tiny; the manifest lives on the driver, the DATA never does). */
  final case class ManifestEntry(catalogId: String, datasetId: String,
      distributionId: String, method: Option[String],
      downloadURL: Option[String], scrapingFileURL: Option[String],
      scrapingFileSheet: Option[String], fileName: Option[String])

  /** One declared series column of a distribution. */
  final case class FieldEntry(distributionId: String,
      fieldTitle: Option[String], specialType: Option[String],
      specialTypeDetail: Option[String], identifierCell: Option[String],
      dataStartCell: Option[String])

  /** Process a data.json catalog (S3 path). */
  def run(spark: SparkSession, catalogPath: String, catalogId: String,
      outputDir: String, host: String = "https://example.org",
      grids: Map[String, DataFrame] = Map.empty,
      stagingDir: Option[String] = None,
      replace: Boolean = true,
      download: Ingest.DownloadConfig = Ingest.DownloadConfig(),
      interactive: Boolean = false,
      distributionIdFilter: Option[String] = None): RunResult = {
    val catalog = CatalogReader.readJson(spark, catalogPath, catalogId)
    val distributions = CatalogReader.withMethod(
      CatalogReader.timeSeriesDistributions(
        CatalogReader.distributions(catalog)))
    val manifest = distributions
      .select(col("catalog_id"), col("dataset_id"), col("distribution_id"),
        col("method"), col("downloadURL"), col("scrapingFileURL"),
        col("scrapingFileSheet"), col("fileName"))
      .collect().toSeq.map(m => ManifestEntry(
        m.getAs[String]("catalog_id"), m.getAs[String]("dataset_id"),
        m.getAs[String]("distribution_id"),
        Option(m.getAs[String]("method")),
        Option(m.getAs[String]("downloadURL")),
        Option(m.getAs[String]("scrapingFileURL")),
        Option(m.getAs[String]("scrapingFileSheet")),
        Option(m.getAs[String]("fileName"))))
    val fields = CatalogReader.fields(catalog).collect().toSeq.map(f =>
      FieldEntry(f.getAs[String]("distribution_id"),
        Option(f.getAs[String]("field_title")),
        Option(f.getAs[String]("specialType")),
        Option(f.getAs[String]("specialTypeDetail")),
        Option(f.getAs[String]("scrapingIdentifierCell")),
        Option(f.getAs[String]("scrapingDataStartCell"))))
    // K4 extraction-stage artifacts (base.py:434-451): the catalog error
    // report + the harvestable-datasets report
    val reportsDir = s"$outputDir/reportes/$catalogId"
    ReportXlsx.writeErrorsReport(
      CatalogValidator.violations(spark, catalog), reportsDir)
    ReportXlsx.writeDatasetsCompleteReport(
      CatalogValidator.harvestableDatasets(spark, catalog), reportsDir)
    process(spark, manifest, fields, outputDir, grids, stagingDir, replace,
      download, interactive, distributionIdFilter)
  }

  /** Process a 5-sheet XLSX catalog (S4 path) — same semantics, the
    * manifest assembles from the flattened sheet views. */
  def runXlsx(spark: SparkSession, xlsxPath: String, catalogId: String,
      outputDir: String, grids: Map[String, DataFrame] = Map.empty,
      stagingDir: Option[String] = None,
      replace: Boolean = true,
      download: Ingest.DownloadConfig = Ingest.DownloadConfig(),
      interactive: Boolean = false,
      distributionIdFilter: Option[String] = None): RunResult = {
    val views = CatalogXlsx.readViews(spark, xlsxPath)
    def opt(r: org.apache.spark.sql.Row, c: String): Option[String] =
      if (r.schema.fieldNames.contains(c)) Option(r.getAs[String](c)) else None

    val fieldRows = views.fields.collect().toSeq
    val fields = fieldRows.map(f => FieldEntry(
      opt(f, "distribution_identifier").getOrElse(""),
      opt(f, "title"), opt(f, "specialType"), opt(f, "specialTypeDetail"),
      opt(f, "scrapingIdentifierCell"), opt(f, "scrapingDataStartCell")))
    val tsDistributionIds = fields
      .filter(_.specialType.contains("time_index"))
      .map(_.distributionId).toSet

    val manifest = views.distributions.collect().toSeq.flatMap { d =>
      val disId = opt(d, "identifier").getOrElse("")
      if (!tsDistributionIds.contains(disId)) None
      else {
        val downloadURL = opt(d, "downloadURL")
        val scrapingURL = opt(d, "scrapingFileURL")
        // P5 dispatch on the flattened row (reference base.py:123-153)
        val ext = scrapingURL.map(_.split('.').last.toLowerCase)
        val method =
          if (downloadURL.isDefined) Some("csv_file")
          else if (ext.contains("txt")) Some("text_file")
          else if (ext.exists(Set("xls", "xlsx"))) Some("excel_file")
          else None
        Some(ManifestEntry(catalogId,
          opt(d, "dataset_identifier")
            .getOrElse(disId.split('.').head), // J3 fallback
          disId, method, downloadURL, scrapingURL,
          opt(d, "scrapingFileSheet"), opt(d, "fileName")))
      }
    }
    process(spark, manifest, fields, outputDir, grids, stagingDir, replace,
      download, interactive, distributionIdFilter)
  }

  /** One excel distribution with its validated, parsed scrape spec. */
  private final case class ExcelPrep(m: ManifestEntry, url: String,
      sheet: String, freq: Frequency, timeDataStartCell: String,
      series: Seq[CellGrid.SeriesSpec], headerCells: Seq[(String, String)])

  /** One direct CSV/TXT distribution with its wide frame and declared
    * frequency. */
  private final case class DirectPrep(m: ManifestEntry, wide: DataFrame,
      freq: Option[Frequency])

  private val CellRef = "^[A-Za-z]+[0-9]+$".r

  private def requireCell(disId: String, what: String, cell: String): String =
    cell match {
      case CellRef() => cell
      case other => throw new IllegalArgumentException(
        s"$disId: bad $what cell '$other'")
    }

  /** The shared processing core. */
  def process(spark: SparkSession, manifest: Seq[ManifestEntry],
      fields: Seq[FieldEntry], outputDir: String,
      grids: Map[String, DataFrame], stagingDir: Option[String],
      replace: Boolean,
      download: Ingest.DownloadConfig = Ingest.DownloadConfig(),
      interactive: Boolean = false,
      distributionIdFilter: Option[String] = None): RunResult = {
    import spark.implicits._
    // reference --distribution-id-filter (main.py:62-66): restrict the
    // run to one distribution id when given
    val manifest0 = manifest
    val manifestF = distributionIdFilter match {
      case Some(id) => manifest0.filter(_.distributionId == id)
      case None => manifest0
    }

    // S1/S2 + D2: land each distinct scraping source once into staging,
    // then parse each workbook once into a cached grid (the S8 cache).
    val landedGrids: Map[String, DataFrame] = stagingDir match {
      case None => Map.empty
      case Some(staging) =>
        val urls = manifestF
          .filter(_.method.contains("excel_file"))
          .flatMap(_.scrapingFileURL).distinct
        val ingestManifest = urls
          .map(u => (u, s"$staging/${u.split('/').last}"))
          .toDF("url", "target")
        // --interactive reuses already-staged files instead of
        // re-downloading (reference base.py:917-925); a normal run
        // always fetches fresh sources
        val landed = if (urls.isEmpty) Map.empty[String, String]
          else Ingest.fetchAllConfigured(spark, ingestManifest, download,
              replace = !interactive)
            .filter(col("status").isin("OK", "SKIPPED"))
            .select(col("url"), col("target")).as[(String, String)]
            .collect().toMap
        landed.map { case (url, path) =>
          url -> CellGrid.cached(CatalogXlsx.toGrid(spark, path))
        }
    }
    val allGrids = landedGrids ++ grids

    def outPathOf(m: ManifestEntry): String = {
      val fileName = m.fileName.getOrElse(s"${m.distributionId}.csv")
      s"$outputDir/catalog/${m.catalogId}/dataset/" +
        s"${m.datasetId}/distribution/${m.distributionId}/download/$fileName"
    }

    // P9 skip/replace gate (reference base.py:155-163): an existing
    // output short-circuits the whole distribution unless --replace
    val (toSkip, active) = manifestF.partition(m => !replace &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(outPathOf(m))))
    val skippedResults = toSkip.map(m =>
      DistributionResult(m.catalogId, m.datasetId, m.distributionId,
        "SKIPPED", "exists", outPathOf(m), 0L))

    val (excelItems, directItems) =
      active.partition(_.method.contains("excel_file"))

    def errorRow(m: ManifestEntry, e: Throwable): DistributionResult =
      DistributionResult(m.catalogId, m.datasetId, m.distributionId,
        "ERROR", e.toString.take(500), outPathOf(m), 0L)

    // ---- spec assembly per excel distribution; failures isolate here
    val preps: Seq[Either[DistributionResult, ExcelPrep]] =
      excelItems.map { m =>
        Try {
          val url = m.scrapingFileURL.getOrElse(
            throw new IllegalArgumentException(
              s"${m.distributionId} has no scrapingFileURL"))
          if (!allGrids.contains(url))
            throw new IllegalArgumentException(s"no grid for $url")
          val myFields = fields.filter(_.distributionId == m.distributionId)
          val timeField = myFields
            .find(_.specialType.contains("time_index"))
            .getOrElse(throw new IllegalArgumentException(
              s"${m.distributionId} has no time_index field"))
          val freq = timeField.specialTypeDetail.flatMap(Frequency.fromIso)
            .getOrElse(Frequency.Monthly)
          val series = myFields.filter(_.specialType.isEmpty).map(f =>
            CellGrid.SeriesSpec(f.fieldTitle.getOrElse(""),
              f.identifierCell.getOrElse(""),
              requireCell(m.distributionId, "dataStart",
                f.dataStartCell.getOrElse(""))))
          val headers = myFields
            .flatMap(f => f.identifierCell.filter(CellRef.matches)
              .map(c => (f.fieldTitle.getOrElse(""), c)))
          ExcelPrep(m, url, m.scrapingFileSheet.getOrElse(""), freq,
            requireCell(m.distributionId, "timeDataStart",
              timeField.dataStartCell.getOrElse("")),
            series, headers)
        }.toEither.left.map(errorRow(m, _))
      }
    val prepErrors = preps.collect { case Left(r) => r }
    val okPreps = preps.collect { case Right(p) => p }

    // T2 WARNING text (reference base.py:165-182: "la distribución
    // termina en la fila N, pero no se detectó fecha en la fila M"),
    // naming the time-index cell the way the reference reports its
    // coordinate alongside the row numbers
    def trimMessage(detectedEnd: Option[Int], tableEnd: Option[Int],
        timeCell: String): Option[String] = (detectedEnd, tableEnd) match {
      case (Some(de), Some(te)) if te > de => Some(
        s"table ends at row $te but no date detected at row ${de + 1} " +
          s"(time index cell $timeCell)")
      case (None, Some(te)) => Some(
        s"table ends at row $te but no date detected at all " +
          s"(time index cell $timeCell)")
      case _ => None
    }

    // K1 sink of a judged batch, ONE write job for all of it
    // (SingleFileCsv.writeAll over the batch's long form): errors →
    // ERROR row and no write; otherwise the file is written and
    // warnings make it WARNING, and a write that fails is that
    // distribution's ERROR row. "Replaced" note (reference
    // base.py:183-191): an OK distribution whose existing output was
    // overwritten under --replace reports note=Replaced; warnings take
    // precedence (the reference's elif).
    def sink(long: DataFrame, judged: Seq[(ManifestEntry,
        TimeSeriesOps.Verdict, Seq[String])]): Seq[DistributionResult] = {
      val targets = judged.collect { case (m, v, columns)
          if v.errors.isEmpty =>
        SingleFileCsv.Target(m.distributionId, outPathOf(m), columns) }
      val existed = targets.filter(t => java.nio.file.Files
          .exists(java.nio.file.Paths.get(t.path)))
        .map(_.distributionId).toSet
      val written = SingleFileCsv.writeAll(long, targets)
      judged.map { case (m, v, _) =>
        def result(status: String, message: String, rows: Long) =
          DistributionResult(m.catalogId, m.datasetId, m.distributionId,
            status, message.take(500), outPathOf(m), rows)
        if (v.errors.nonEmpty) result("ERROR", v.errors.mkString("; "), 0L)
        else written(m.distributionId) match {
          case Left(error) => result("ERROR", error, 0L)
          case Right(rows) =>
            val note =
              if (v.warnings.nonEmpty) v.warnings.mkString("; ")
              else if (existed(m.distributionId) && replace) "Replaced"
              else ""
            result(if (v.warnings.nonEmpty) "WARNING" else "OK", note, rows)
        }
      }
    }

    // The one failure rule (§2.10, the reference's per-distribution
    // try/except, base.py:155-207): run the batch core over every item;
    // if it throws, rerun the same core per group, and a group that
    // still throws becomes ERROR rows for its distributions — one bad
    // workbook or file never aborts the catalog.
    def isolated[A](items: Seq[A])(entry: A => ManifestEntry,
        group: A => String)(core: Seq[A] => Seq[DistributionResult])
        : Seq[DistributionResult] = {
      def run(batch: Seq[A]): Seq[DistributionResult] =
        Try(core(batch)).recover { case e =>
          val groups = batch.map(group).distinct
          log.warn(s"batch of ${groups.size} group(s) failed", e)
          if (groups.size == 1) batch.map(a => errorRow(entry(a), e))
          else groups.flatMap(g => run(batch.filter(group(_) == g)))
        }.get
      if (items.isEmpty) Seq.empty else run(items)
    }

    // ---- the excel batch core: ONE combined grid, ONE scrape, ONE
    // validation battery, one job per grid check, ONE K1 write job —
    // none of it scales with distribution count
    def processExcel(ps: Seq[ExcelPrep]): Seq[DistributionResult] = {
      // globally-unique sheet key: url NUL sheet (NUL can't occur in
      // either part)
      def sheetKey(url: String, sheet: String) = url + "\u0000" + sheet
      val combined = ps.map(_.url).distinct.sorted
        .map(u => allGrids(u).select(
          concat(lit(u), lit("\u0000"), col("sheet")).as("sheet"),
          col("row"), col("col"), col("value")))
        .reduce(_.unionByName(_))
      val specs = ps.flatMap(p => p.series.map(sp =>
        CellGrid.BatchSeriesSpec(p.m.distributionId, sp.serieId,
          sheetKey(p.url, p.sheet), sp.dataStartCell,
          p.timeDataStartCell, p.freq.code)))
      // the batch long form is computed ONCE, by the first validation
      // job, and kept for the rest of the battery and the K1 sink
      val batchLong = CellGrid.scrapeAll(combined, specs)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val verdicts = TimeSeriesOps.distributionVerdicts(batchLong,
          ps.map(p => TimeSeriesOps.DistributionSpec(p.m.distributionId,
            p.series.map(_.serieId), Some(p.freq))))

        // V2 header drift — ONE broadcast join for every header cell of
        // every distribution (processors.py:147-148)
        val driftSpecs = ps.flatMap(p => p.headerCells.map {
          case (title, cell) =>
            (p.m.distributionId, title, sheetKey(p.url, p.sheet), cell) })
        val drifts: Map[String, Seq[String]] =
          CellGrid.headerDriftAll(combined, driftSpecs).collect()
            .groupBy(_.getAs[String]("distribution_id"))
            .map { case (d, rows) => d -> rows.toSeq.map(r =>
              s"${r.getAs[String]("serie_id")}<>" +
                s"'${Option(r.getAs[String]("found")).getOrElse("")}'") }

        // T2 table-end trim bounds — ONE job for the whole catalog
        // (base.py:165-182); composed labels count as detected, so a
        // composed-time sheet never false-warns
        val bounds: Map[String, (Option[Int], Option[Int])] =
          CellGrid.tableBoundsAll(combined, ps.map(p =>
              (p.m.distributionId, sheetKey(p.url, p.sheet),
                p.timeDataStartCell, p.freq.code)).distinct)
            .collect()
            .map(r => r.getAs[String]("distribution_id") -> (
              (if (r.isNullAt(1)) None else Some(r.getInt(1))),
              (if (r.isNullAt(2)) None else Some(r.getInt(2))))).toMap

        sink(batchLong, ps.map { p =>
          val d = p.m.distributionId
          val v = verdicts(d)
          val trim = bounds.get(d).flatMap { case (de, te) =>
            trimMessage(de, te, p.timeDataStartCell) }
          val drift = drifts.get(d).map(ds =>
            s"header drift: ${ds.mkString(", ")}")
          (p.m, v.copy(warnings = trim.toSeq ++ v.warnings ++ drift),
            "indice_tiempo" +: p.series.map(_.serieId))
        })
      } finally batchLong.unpersist()
    }
    val excelResults = isolated(okPreps)(_.m, _.url)(processExcel)

    // ---- direct CSV / TXT distributions: each file is read on its own
    // (a read that fails isolates to its ERROR row), then every frame is
    // judged by the same battery in one pass and written
    val directPreps: Seq[Either[DistributionResult, DirectPrep]] =
      directItems.map { m =>
        Try {
          val wide = m.method match {
            case Some("csv_file") =>
              Ingest.readDistributionTxt(spark, m.downloadURL.get, ",")
            case Some("text_file") =>
              readDistributionTxtFromStaging(spark, m, fields, stagingDir)
            case other =>
              throw new IllegalArgumentException(s"no processor for $other")
          }
          DirectPrep(m, wide, fields
            .filter(_.distributionId == m.distributionId)
            .find(_.specialType.contains("time_index"))
            .flatMap(_.specialTypeDetail).flatMap(Frequency.fromIso))
        }.toEither.left.map(errorRow(m, _))
      }
    // a balanced union: folding the frames left to right re-analyses
    // the growing plan once per file, quadratic in the file count
    def unionAll(fs: Seq[DataFrame]): DataFrame =
      if (fs.size == 1) fs.head
      else fs.splitAt(fs.size / 2) match {
        case (a, b) => unionAll(a).unionByName(unionAll(b))
      }
    def processDirect(ds: Seq[DirectPrep]): Seq[DistributionResult] = {
      // one task per core, not per file: every task deserialises the
      // whole union's plan, so a task per file is quadratic too; kept
      // for the battery and the K1 sink, so each file is read once
      val stacked = unionAll(ds.map(d =>
          TimeSeriesOps.stackWide(d.wide, d.m.distributionId)))
        .coalesce(spark.sparkContext.defaultParallelism)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val verdicts = TimeSeriesOps.distributionVerdicts(stacked,
          ds.map(d => TimeSeriesOps.DistributionSpec(d.m.distributionId,
            d.wide.columns.filter(_ != "indice_tiempo").toSeq, d.freq)))
        sink(stacked, ds.map(d => (d.m, verdicts(d.m.distributionId),
          d.wide.columns.toSeq)))
      } finally stacked.unpersist()
    }
    val directResults = directPreps.collect { case Left(r) => r } ++
      isolated(directPreps.collect { case Right(d) => d })(
        _.m, _.m.distributionId)(processDirect)

    val results =
      skippedResults ++ prepErrors ++ excelResults ++ directResults

    // K4 scraping-stage artifacts (exact names + column sets,
    // base.py:43-55,873-915): reporte-datasets.xlsx and
    // reporte-distributions.xlsx under reportes/<catalogId>/
    manifestF.headOption.foreach { first =>
      val reportsDir = s"$outputDir/reportes/${first.catalogId}"
      val datasetRows = results.groupBy(_.datasetId).toSeq.sortBy(_._1)
        .map { case (ds, rs) =>
          ds -> (if (rs.exists(_.status == "ERROR")) "ERROR" else "OK") }
      val manifestById = manifestF.map(m => m.distributionId -> m).toMap
      val timeCoordById = fields
        .filter(_.specialType.contains("time_index"))
        .map(f => f.distributionId -> f.dataStartCell.getOrElse("")).toMap
      val distRows = results.map { r =>
        val m = manifestById.get(r.distributionId)
        ReportXlsx.DistributionReportRow(r.datasetId, r.distributionId,
          r.status, r.message,
          m.flatMap(x => x.scrapingFileURL.orElse(x.downloadURL))
            .getOrElse(""),
          m.flatMap(_.scrapingFileSheet).getOrElse(""),
          timeCoordById.getOrElse(r.distributionId, ""))
      }
      ReportXlsx.writeDatasetsReport(datasetRows, reportsDir)
      ReportXlsx.writeDistributionsReport(distRows, reportsDir)
    }

    val report = results.toDF()
      .withColumnRenamed("status", "distribution_status")
    val datasetReport = report
      .groupBy(col("catalogId"), col("datasetId"))
      .agg(max(when(col("distribution_status") === "ERROR", 1).otherwise(0))
        .as("has_error"))
      .withColumn("dataset_status",
        when(col("has_error") === 1, "ERROR").otherwise("OK"))
    RunResult(
      Reports.sortByStatus(report, "distribution_status",
        Seq("distributionId")),
      Reports.indicators(datasetReport, report))
  }

  /** S6 — TXT distribution from the staging dir (landed by the ingest
    * stage) or directly from a local scrapingFileURL. */
  private def readDistributionTxtFromStaging(spark: SparkSession,
      m: ManifestEntry, fields: Seq[FieldEntry],
      stagingDir: Option[String]): DataFrame = {
    val url = m.scrapingFileURL.get
    val path = stagingDir.map(s => s"$s/${url.split('/').last}")
      .filter(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p)))
      .getOrElse(url)
    // field-metadata-driven parsing (load_ts_distribution semantics,
    // processors.py:51-80): time column by declared title, declared
    // series in declaration order
    val myFields = fields.filter(_.distributionId == m.distributionId)
    Ingest.readDistributionTxt(spark, path,
      timeFieldTitle = myFields.find(_.specialType.contains("time_index"))
        .flatMap(_.fieldTitle).getOrElse("indice_tiempo"),
      declaredSeries = myFields.filter(_.specialType.isEmpty)
        .flatMap(_.fieldTitle))
  }
}
