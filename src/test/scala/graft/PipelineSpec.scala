package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sources.CatalogReader
import scala.jdk.CollectionConverters._

/** End-to-end: fixture catalog JSON → manifest → processors → validation
  * → single-file CSV sinks → report + indicators (SURVEY §3). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val workDir = Files.createTempDirectory("graft-pipeline")

  /** Materialize the fixture catalog with a real local CSV for the
    * direct-download distribution 2.1. */
  private lazy val catalogPath: String = {
    val csv = workDir.resolve("monthly_src.csv")
    Files.writeString(csv,
      """indice_tiempo,valor_x,valor_y
        |2020-01-01,1.5,10
        |2020-02-01,2.5,s.d.
        |2020-03-01,3.5,30
        |""".stripMargin)
    val raw = new String(Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_catalog.json").toURI)))
    val path = workDir.resolve("catalog.json")
    Files.writeString(path, raw.replace("__CSV_PATH__", csv.toString))
    path.toString
  }

  private lazy val wb1Grid = Seq(
    ("data", 1, 1, "indice_tiempo"), ("data", 1, 2, "serie_a"),
    ("data", 1, 3, "serie_b"),
    ("data", 2, 1, "2020-Q1"), ("data", 2, 2, "1.0"), ("data", 2, 3, "4.0"),
    ("data", 3, 1, "2020-Q2"), ("data", 3, 2, "2.0"), ("data", 3, 3, "5.0"),
  ).toDF("sheet", "row", "col", "value")

  test("catalog views: explode, P1 filter, P5 classify, P7 strip") {
    val cat = CatalogReader.readJson(spark, catalogPath, "fixcat")
    assert(CatalogReader.datasets(cat).count() == 2)
    val dists = CatalogReader.distributions(cat)
    assert(dists.count() == 4)
    val ts = CatalogReader.timeSeriesDistributions(dists)
    assert(ts.select("distribution_id").as[String].collect().toSet ==
      Set("1.1", "1.2", "2.1")) // 2.2 has no time_index -> filtered (P1)
    val methods = CatalogReader.withMethod(ts)
      .select("distribution_id", "method").as[(String, String)]
      .collect().toMap
    assert(methods == Map("1.1" -> "excel_file", "1.2" -> "excel_file",
      "2.1" -> "csv_file"))
    val stripped = CatalogReader.stripScrapingMetadata(ts)
    assert(!stripped.columns.contains("scrapingFileURL"))
    val fields = CatalogReader.fields(cat)
    assert(fields.filter(col("distribution_id") === "1.1").count() == 3)
  }

  test("pipeline run: OK csv + OK scrape + ERROR isolation + indicators") {
    val out = workDir.resolve("out").toString
    val result = Pipeline.run(spark, catalogPath, "fixcat", out,
      grids = Map("http://example.org/src/wb1.xlsx" -> wb1Grid))
    val report = result.report.collect()
      .map(r => r.getAs[String]("distributionId") ->
        r.getAs[String]("distribution_status")).toMap
    assert(report == Map("1.1" -> "OK", "2.1" -> "OK", "1.2" -> "ERROR"))

    // fault isolation: 1.2's missing grid never failed the run; report
    // carries the error message
    val err = result.report
      .filter(col("distributionId") === "1.2").head()
    assert(err.getAs[String]("message").contains("no grid"))

    // K1 sink: exact fileName contract, ordered rows, header present
    val csv = Paths.get(out,
      "catalog/fixcat/dataset/2/distribution/2.1/download/monthly.csv")
    assert(Files.exists(csv))
    val lines = Files.readAllLines(csv)
    assert(lines.get(0) == "indice_tiempo,valor_x,valor_y")
    assert(lines.get(1).startsWith("2020-01-01,1.5,10.0"))
    assert(lines.get(2) == "2020-02-01,2.5,\"\"" ||
      lines.get(2) == "2020-02-01,2.5,") // missing token -> empty cell

    // scraped distribution landed with its derived file name
    assert(Files.exists(Paths.get(out,
      "catalog/fixcat/dataset/1/distribution/1.1/download/1.1.csv")))

    val ind = result.indicators.head()
    assert(ind.getAs[Long]("distributions") == 3)
    assert(ind.getAs[Long]("distributions_ok") == 2)
    assert(ind.getAs[Long]("distributions_error") == 1)
    assert(ind.getAs[Double]("distributions_percentage") == 66.667)
  }

  test("named report artifacts with exact column sets (K4)") {
    import graft.sources.XlsxLite
    val out = workDir.resolve("outreports").toString
    Pipeline.run(spark, catalogPath, "fixcat", out,
      grids = Map("http://example.org/src/wb1.xlsx" -> wb1Grid))
    val dir = s"$out/reportes/fixcat"

    // scraping stage: reporte-datasets.xlsx (2 cols, base.py:873-884)
    val ds = XlsxLite.toRows(XlsxLite.read(
      s"$dir/${graft.sinks.ReportXlsx.DatasetsReportName}"))
    assert(ds.head == Seq("dataset_identifier", "dataset_status"))
    assert(ds.tail.map(r => (r(0), r(1))).toSet ==
      Set(("1", "ERROR"), ("2", "OK"))) // 1.2 failed -> dataset 1 ERROR

    // reporte-distributions.xlsx (7 cols, ERROR first, base.py:886-915)
    val dist = XlsxLite.toRows(XlsxLite.read(
      s"$dir/${graft.sinks.ReportXlsx.DistributionsReportName}"))
    assert(dist.head == Seq("dataset_identifier", "distribution_identifier",
      "distribution_status", "distribution_note", "distribution_source",
      "distribution_sheet", "time_index_coord"))
    assert(dist(1)(2) == "ERROR") // categorical sort: ERROR < WARNING < OK
    val byId = dist.tail.map(r => r(1) -> r).toMap
    assert(byId("1.1")(5) == "data" && byId("1.1")(6) == "A2")
    assert(byId("1.1")(4) == "http://example.org/src/wb1.xlsx")

    // extraction stage: errors + harvestable datasets
    val err = XlsxLite.toRows(XlsxLite.read(
      s"$dir/${graft.sinks.ReportXlsx.ErrorsReportName}"))
    assert(err.head == Seq("level", "identifier", "rule"))
    val comp = XlsxLite.toRows(XlsxLite.read(
      s"$dir/${graft.sinks.ReportXlsx.DatasetsCompleteReportName}"))
    assert(comp.head.take(1) == Seq("dataset_identifier") &&
      comp.head.last == "harvest")
    assert(comp.tail.forall(_.last == "valid"))
  }

  /** Spark jobs started while `body` runs, with AQE off: AQE
    * materializes every shuffle stage as its own "job", which inflates
    * the count and hides the scaling signal; one action = one job
    * without it. `counts` picks the jobs by their first `graft.` frame. */
  private def jobsDuring(counts: String => Boolean = _ => true)(
      body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val frame = js.stageInfos.flatMap(_.details.split('\n'))
          .map(_.trim).find(_.startsWith("graft.")).getOrElse("")
        if (counts(frame)) jobs.incrementAndGet()
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      body
      Thread.sleep(1000) // let the async listener bus drain
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("batch scrape: spark-job count stays O(1), K1 writes included") {
    // n distributions over one shared workbook — the whole pipeline's
    // job count (scrape, validation, the K1 sink, reports) must NOT
    // scale with n: 3 and 6 distributions cost the same jobs
    def pipelineJobs(n: Int): Int = {
      val grid = (1 to n).flatMap { d =>
        Seq((s"hoja$d", 1, 1, "indice_tiempo"), (s"hoja$d", 1, 2, s"s$d")) ++
          (2 to 13).flatMap(r => Seq(
            (s"hoja$d", r, 1, f"2021-${r - 1}%02d"),
            (s"hoja$d", r, 2, s"$r.5")))
      }.toDF("sheet", "row", "col", "value")
      val manifest = (1 to n).map(d => Pipeline.ManifestEntry(
        "jobcat", "1", s"1.$d", Some("excel_file"), None,
        Some("mem://wb"), Some(s"hoja$d"), None))
      val fields = (1 to n).flatMap(d => Seq(
        Pipeline.FieldEntry(s"1.$d", Some("indice_tiempo"),
          Some("time_index"), Some("R/P1M"), Some("A1"), Some("A2")),
        Pipeline.FieldEntry(s"1.$d", Some(s"s$d"), None, None,
          Some("B1"), Some("B2"))))
      val out = workDir.resolve(s"jobcount$n").toString
      jobsDuring() {
        val result = Pipeline.process(spark, manifest, fields, out,
          Map("mem://wb" -> grid), None, replace = true)
        val statuses = result.report.collect()
          .map(_.getAs[String]("distribution_status")).toSeq
        assert(statuses.count(_ == "OK") == n, statuses)
      }
    }
    val (small, large) = (pipelineJobs(3), pipelineJobs(6))
    assert(large == small,
      s"pipeline jobs grew with n: $small for 3, $large for 6")
  }

  test("a failing K1 write is one ERROR row; the other files land") {
    val dir = Files.createTempDirectory(workDir, "writefail")
    val manifest = (1 to 3).map { d =>
      val csv = dir.resolve(s"src$d.csv")
      Files.writeString(csv, "indice_tiempo,v\n" + (1 to 6)
        .map(m => f"2021-$m%02d-01,$d.$m").mkString("\n") + "\n")
      Pipeline.ManifestEntry("wfcat", "1", s"1.$d", Some("csv_file"),
        Some(csv.toString), None, None, None)
    }
    val fields = (1 to 3).map(d => Pipeline.FieldEntry(s"1.$d",
      Some("indice_tiempo"), Some("time_index"), Some("R/P1M"), None, None))
    val out = dir.resolve("out")
    def downloadDir(d: Int) =
      out.resolve(s"catalog/wfcat/dataset/1/distribution/1.$d/download")
    // 1.2's download directory is a regular file: its write cannot start
    Files.createDirectories(downloadDir(2).getParent)
    Files.writeString(downloadDir(2), "not a directory")
    val rows = Pipeline.process(spark, manifest, fields, out.toString,
        Map.empty, None, replace = true)
      .report.collect().toSeq
      .map(r => (r.getAs[String]("distributionId"),
        r.getAs[String]("distribution_status"), r.getAs[String]("message")))
    val failed = rows.filter(_._1 == "1.2")
    assert(failed.size == 1 && failed.head._2 == "ERROR", rows)
    assert(failed.head._3.contains("FileAlreadyExistsException") &&
      failed.head._3.contains(downloadDir(2).toString), rows)
    assert(rows.filter(_._1 != "1.2").map(r => (r._1, r._2)).sorted ==
      Seq(("1.1", "OK"), ("1.3", "OK")), rows)
    // the written files stand alone: no temp file beside any target
    Seq(1, 3).foreach { d =>
      val names = Files.list(downloadDir(d)).iterator().asScala
        .map(_.getFileName.toString).toSet
      assert(names == Set(s"1.$d.csv"), names)
      assert(Files.readAllLines(downloadDir(d).resolve(s"1.$d.csv")).size == 7)
    }
  }

  test("T2 trim warning reaches the report (batch path) + Replaced note") {
    // a footer row past the last parseable date in the time column —
    // the reference's "la distribución termina en la fila N, pero no se
    // detectó fecha" WARNING (base.py:165-182)
    val grid = (Seq(("h", 1, 1, "indice_tiempo"), ("h", 1, 2, "sT")) ++
      (2 to 7).flatMap(r => Seq(
        ("h", r, 1, f"2021-${r - 1}%02d"), ("h", r, 2, s"$r.5"))) :+
      (("h", 9, 1, "fuente: INDEC"))) // non-date footer, rows 8 empty
      .toDF("sheet", "row", "col", "value")
    val manifest = Seq(Pipeline.ManifestEntry("trimcat", "1", "1.1",
      Some("excel_file"), None, Some("mem://trim"), Some("h"), None))
    val fields = Seq(
      Pipeline.FieldEntry("1.1", Some("indice_tiempo"), Some("time_index"),
        Some("R/P1M"), Some("A1"), Some("A2")),
      Pipeline.FieldEntry("1.1", Some("sT"), None, None, Some("B1"),
        Some("B2")))
    val out = workDir.resolve("trim").toString
    val result = Pipeline.process(spark, manifest, fields, out,
      Map("mem://trim" -> grid), None, replace = true)
    val row = result.report.head()
    assert(row.getAs[String]("distribution_status") == "WARNING")
    val msg = row.getAs[String]("message")
    assert(msg.contains("table ends at row 9") &&
      msg.contains("no date detected at row 8") &&
      msg.contains("A2"), msg)

    // second run over the existing output under replace=true: a clean
    // grid reports OK with note=Replaced (base.py:183-191) — warnings
    // take precedence, so the trim catalog still says WARNING
    val clean = (Seq(("h", 1, 1, "indice_tiempo"), ("h", 1, 2, "sT")) ++
      (2 to 7).flatMap(r => Seq(
        ("h", r, 1, f"2021-${r - 1}%02d"), ("h", r, 2, s"$r.5"))))
      .toDF("sheet", "row", "col", "value")
    val out2 = workDir.resolve("replaced").toString
    def runClean() = Pipeline.process(spark, manifest, fields, out2,
      Map("mem://trim" -> clean), None, replace = true)
    val first = runClean().report.head()
    assert(first.getAs[String]("distribution_status") == "OK" &&
      first.getAs[String]("message") == "")
    val second = runClean().report.head()
    assert(second.getAs[String]("distribution_status") == "OK" &&
      second.getAs[String]("message") == "Replaced")
  }

  test("batch-stage failure degrades to per-distribution fallback") {
    // One workbook whose grid PLANS fine but FAILS at execution time
    // (its parquet files vanish after the DataFrame is built). The
    // batched excel core unions it with a healthy workbook, so the
    // batch scrape job dies — the run must fall back to per-
    // distribution scrapes: healthy workbook OK, broken workbook ERROR,
    // never an aborted catalog (reference's per-item try/except).
    val okGrid = (Seq(("okh", 1, 1, "indice_tiempo"), ("okh", 1, 2, "sA")) ++
      (2 to 13).flatMap(r => Seq(
        ("okh", r, 1, f"2021-${r - 1}%02d"),
        ("okh", r, 2, s"$r.5")))).toDF("sheet", "row", "col", "value")

    val pdir = workDir.resolve("brokengrid")
    Seq(("bad", 1, 1, "indice_tiempo"), ("bad", 1, 2, "sB"),
      ("bad", 2, 1, "2021-01"), ("bad", 2, 2, "1.0"))
      .toDF("sheet", "row", "col", "value")
      .write.mode("overwrite").parquet(pdir.toString)
    val broken = spark.read.parquet(pdir.toString) // listing captured now
    // remove the data files: any execution over `broken` now throws
    Files.walk(pdir).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.deleteIfExists(p))

    val manifest = Seq(
      Pipeline.ManifestEntry("fbcat", "1", "1.1", Some("excel_file"), None,
        Some("mem://ok"), Some("okh"), None),
      Pipeline.ManifestEntry("fbcat", "1", "1.2", Some("excel_file"), None,
        Some("mem://broken"), Some("bad"), None))
    val fields = Seq(
      Pipeline.FieldEntry("1.1", Some("indice_tiempo"), Some("time_index"),
        Some("R/P1M"), Some("A1"), Some("A2")),
      Pipeline.FieldEntry("1.1", Some("sA"), None, None, Some("B1"),
        Some("B2")),
      Pipeline.FieldEntry("1.2", Some("indice_tiempo"), Some("time_index"),
        Some("R/P1M"), Some("A1"), Some("A2")),
      Pipeline.FieldEntry("1.2", Some("sB"), None, None, Some("B1"),
        Some("B2")))

    val out = workDir.resolve("fallback").toString
    val result = Pipeline.process(spark, manifest, fields, out,
      Map("mem://ok" -> okGrid, "mem://broken" -> broken), None,
      replace = true)
    val statuses = result.report.collect()
      .map(r => r.getAs[String]("distributionId") ->
        r.getAs[String]("distribution_status")).toMap
    assert(statuses("1.1") == "OK", statuses)
    assert(statuses("1.2") == "ERROR", statuses)
    // the healthy distribution's CSV actually landed via the fallback
    assert(Files.exists(Paths.get(out,
      "catalog/fbcat/dataset/1/distribution/1.1/download/1.1.csv")))
    // the failed batch attempt left no staging tree behind
    assert(!Files.exists(Paths.get(out, ".graft-batch-long")))
  }

  test("empty value cells are not frequency gaps on either path (T3)") {
    // a clean monthly excel table where serie sC lacks two cells: the
    // distribution's time index is complete, so no gap warning
    val grid = (Seq(("h", 1, 1, "indice_tiempo"), ("h", 1, 2, "sB"),
      ("h", 1, 3, "sC")) ++
      (2 to 13).flatMap(r => Seq(
        ("h", r, 1, f"2021-${r - 1}%02d"), ("h", r, 2, s"$r.5")) ++
        (if (r == 5 || r == 9) Seq.empty else Seq(("h", r, 3, s"$r.25")))))
      .toDF("sheet", "row", "col", "value")
    val csv = workDir.resolve("sparse.csv")
    Files.writeString(csv,
      """indice_tiempo,sX,sY
        |2021-01-01,1.0,2.0
        |2021-02-01,,3.0
        |2021-03-01,4.0,5.0
        |""".stripMargin)
    val manifest = Seq(
      Pipeline.ManifestEntry("gapcat", "1", "1.1", Some("excel_file"), None,
        Some("mem://sparse"), Some("h"), None),
      Pipeline.ManifestEntry("gapcat", "2", "2.1", Some("csv_file"),
        Some(csv.toString), None, None, None))
    val fields = Seq(
      Pipeline.FieldEntry("1.1", Some("indice_tiempo"), Some("time_index"),
        Some("R/P1M"), Some("A1"), Some("A2")),
      Pipeline.FieldEntry("1.1", Some("sB"), None, None, Some("B1"),
        Some("B2")),
      Pipeline.FieldEntry("1.1", Some("sC"), None, None, Some("C1"),
        Some("C2")),
      Pipeline.FieldEntry("2.1", Some("indice_tiempo"), Some("time_index"),
        Some("R/P1M"), None, None))
    val out = workDir.resolve("sparse").toString
    val rows = Pipeline.process(spark, manifest, fields, out,
        Map("mem://sparse" -> grid), None, replace = true)
      .report.collect()
      .map(r => r.getAs[String]("distributionId") ->
        (r.getAs[String]("distribution_status"), r.getAs[String]("message")))
      .toMap
    assert(rows == Map("1.1" -> ("OK", ""), "2.1" -> ("OK", "")), rows)
    // the excel output keeps the empty cells as empty values
    val lines = Files.readAllLines(Paths.get(out,
      "catalog/gapcat/dataset/1/distribution/1.1/download/1.1.csv"))
    assert(lines.size == 13 && lines.get(4).startsWith("2021-04-01,5.5,"),
      lines)
  }

  test("direct CSV path: validation job count stays O(1)") {
    // n and then 2n direct CSV distributions: each costs its own header
    // read, but the validation battery and the K1 sink must stay a
    // fixed number of jobs for the whole catalog
    def pipelineJobs(n: Int): Int = {
      val dir = Files.createTempDirectory(workDir, s"direct$n")
      val manifest = (1 to n).map { d =>
        val csv = dir.resolve(s"src$d.csv")
        Files.writeString(csv, "indice_tiempo,v\n" + (1 to 12)
          .map(m => f"2021-$m%02d-01,$d.$m").mkString("\n") + "\n")
        Pipeline.ManifestEntry("dircat", "1", s"1.$d", Some("csv_file"),
          Some(csv.toString), None, None, None)
      }
      val fields = (1 to n).map(d => Pipeline.FieldEntry(s"1.$d",
        Some("indice_tiempo"), Some("time_index"), Some("R/P1M"), None,
        None))
      // jobs started outside the reads (Ingest)
      jobsDuring(!_.startsWith("graft.sources.Ingest")) {
        val statuses = Pipeline.process(spark, manifest, fields,
            dir.resolve("out").toString, Map.empty, None, replace = true)
          .report.collect().map(_.getAs[String]("distribution_status"))
        assert(statuses.toSeq == Seq.fill(n)("OK"), statuses.toSeq)
      }
    }
    val (small, large) = (pipelineJobs(3), pipelineJobs(6))
    assert(large <= small,
      s"validation and K1 jobs grew with n: $small for 3, $large for 6")
  }
}
