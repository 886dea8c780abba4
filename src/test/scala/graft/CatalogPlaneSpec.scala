package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.model.Frequency
import graft.operators.CatalogValidator
import graft.sinks.CatalogJson
import graft.sources.{CatalogReader, CatalogXlsx, CellGrid, Ingest, XlsxLite}

/** XLSX catalog plane (S4/K3), catalog JSON sink + strip (K2/P7),
  * catalog validation + harvest (P4), ingest (S1/S2/D2/P9), TXT (S6). */
class CatalogPlaneSpec extends SparkSpec {
  import spark.implicits._

  private lazy val workDir = Files.createTempDirectory("graft-catalog")

  test("XlsxLite round-trips a 5-sheet catalog workbook (S4/K3)") {
    val path = workDir.resolve("cat.xlsx").toString
    XlsxLite.write(path, Seq(
      "catalog" -> Seq(
        Seq("catalog_identifier", "catalog_title"),
        Seq("c1", "Catalog & Title")),
      "dataset" -> Seq(
        Seq("dataset_identifier", "dataset_title", "dataset_accrualPeriodicity"),
        Seq("1", "DS One", "R/P3M"), Seq("2", "DS <Two>", "eventual")),
      "distribution" -> Seq(
        Seq("distribution_identifier", "distribution_downloadURL"),
        Seq("1.1", "http://x/a.csv")),
      "field" -> Seq(
        Seq("field_id", "field_title", "field_scrapingIdentifierCell"),
        Seq("serie a", "titulo a", "B1")),
      "theme" -> Seq(
        Seq("theme_id", "theme_label"), Seq("econ", "Economy"))))

    val views = CatalogXlsx.readViews(spark, path)
    assert(views.catalog.columns.toSeq == Seq("identifier", "title"))
    assert(views.catalog.head().getString(1) == "Catalog & Title")
    assert(views.datasets.count() == 2)
    // F1: whitespace stripped from field ids/titles on load
    val f = views.fields.head()
    assert(f.getAs[String]("id") == "seriea")
    assert(f.getAs[String]("title") == "tituloa")

    // K3 inverse writes and re-reads identically
    val out = workDir.resolve("out.xlsx").toString
    CatalogXlsx.writeViews(out, views)
    val again = CatalogXlsx.readViews(spark, out)
    assert(again.datasets.collect().map(_.toSeq).toSet ==
      views.datasets.collect().map(_.toSeq).toSet)
  }

  test("XLSX workbook feeds the S7 scrape via the cell grid") {
    val path = workDir.resolve("series.xlsx").toString
    XlsxLite.write(path, Seq("hoja" -> Seq(
      Seq("indice_tiempo", "ventas"),
      Seq("2021-01-01", "10.5"),
      Seq("2021-02-01", "s.d."),
      Seq("2021-03-01", "30"))))
    val grid = CatalogXlsx.toGrid(spark, path)
    val long = CellGrid.scrapeDistribution(grid, "hoja", "A1", "A2",
      Frequency.Monthly, Seq(CellGrid.SeriesSpec("ventas", "B1", "B2")))
    val vals = long.orderBy("indice_tiempo").collect()
      .map(r => Option(r.get(2)))
    assert(vals.toSeq == Seq(Some(10.5), None, Some(30.0)))
  }

  test("catalog JSON sink strips scraping keys (K2/P7)") {
    val raw = new String(Files.readAllBytes(Paths.get(
      getClass.getResource("/fixture_catalog.json").toURI)))
    val src = workDir.resolve("cat.json")
    Files.writeString(src, raw.replace("__CSV_PATH__", "/tmp/x.csv"))
    val catalog = CatalogReader.readJson(spark, src.toString, "fixcat")
    val stripped = CatalogJson.stripScrapingKeys(
      CatalogJson.withDownloadUrls(catalog.drop("catalog_id"),
        Map("1.1" -> "https://h/rewritten.csv")))
    val target = workDir.resolve("data.json").toString
    CatalogJson.write(stripped, target)
    val out = Files.readString(Paths.get(target))
    assert(!out.contains("scrapingFileURL"))
    assert(!out.contains("scrapingIdentifierCell"))
    assert(out.contains("https://h/rewritten.csv"))
    assert(out.contains("\"identifier\":\"fixcat\""))
  }

  test("catalog validation finds violations; harvest keeps valid (P4)") {
    val json = """{"identifier":"c2","title":"t","description":"d",
      |"publisher":{"name":"p"},"superThemeTaxonomy":"http://x",
      |"dataset":[
      | {"identifier":"1","title":"ok","description":"d",
      |  "publisher":{"name":"p"},"superTheme":["A"],
      |  "accrualPeriodicity":"R/P1M","issued":"2020-01-01",
      |  "distribution":[{"identifier":"1.1","title":"t","issued":"2020",
      |    "field":[{"id":"f1","title":"ft1"}]}]},
      | {"identifier":"2","title":"bad","description":"d",
      |  "publisher":{"name":"p"},"superTheme":["A"],
      |  "accrualPeriodicity":"whenever","issued":"2020-01-01",
      |  "distribution":[{"identifier":"2.1","title":"t","issued":"2020",
      |    "field":[{"id":"f1","title":"ft2"}]}]}
      |]}""".stripMargin.replace("\n", "")
    val p = workDir.resolve("val.json")
    Files.writeString(p, json)
    val catalog = CatalogReader.readJson(spark, p.toString, "c2")
    val v = CatalogValidator.violations(spark, catalog)
    val rules = v.select("rule").as[String].collect().toSet
    assert(rules.contains("invalid accrualPeriodicity"))
    assert(rules.contains("duplicate field id in catalog"))
    val harvest = CatalogValidator.harvestableDatasets(spark, catalog)
      .select("dataset_id").as[String].collect().toSet
    assert(harvest == Set("1"))
  }

  test("schema depth: email/uri formats, temporal interval, theme refs") {
    val json = """{"identifier":"c3","title":"t","description":"d",
      |"publisher":{"name":"p","mbox":"not-an-email"},
      |"superThemeTaxonomy":"no scheme here",
      |"themeTaxonomy":[{"id":"econ","label":"Economy"}],
      |"dataset":[
      | {"identifier":"1","title":"ok","description":"d",
      |  "publisher":{"name":"p","mbox":"ana@example.org"},
      |  "superTheme":["A"],"theme":["econ"],
      |  "accrualPeriodicity":"R/P1M","issued":"2020-01-01",
      |  "temporal":"2019-01-01/2020-12-31",
      |  "landingPage":"https://example.org/ds1",
      |  "distribution":[{"identifier":"1.1","title":"t","issued":"2020",
      |    "downloadURL":"https://example.org/x.csv",
      |    "field":[{"id":"f1","title":"ft1"}]}]},
      | {"identifier":"2","title":"bad","description":"d",
      |  "publisher":{"name":"p","mbox":"broken at example"},
      |  "superTheme":["A"],"theme":["missing_theme"],
      |  "accrualPeriodicity":"R/P1M","issued":"2020-01-01",
      |  "temporal":"2021-01-01/2019-12-31",
      |  "landingPage":"not a uri",
      |  "contactPoint":{"fn":"x","hasEmail":"alsobroken"},
      |  "distribution":[{"identifier":"2.1","title":"t","issued":"2020",
      |    "downloadURL":"bare/path.csv",
      |    "field":[{"id":"f2","title":"ft2"}]}]}
      |]}""".stripMargin.replace("\n", "")
    val p = workDir.resolve("val3.json")
    Files.writeString(p, json)
    val catalog = CatalogReader.readJson(spark, p.toString, "c3")
    val v = CatalogValidator.violations(spark, catalog)
      .select("level", "identifier", "rule")
      .as[(String, String, String)].collect().toSet
    // catalog-level formats
    assert(v.contains(("catalog", "c3", "invalid email: publisher.mbox")))
    assert(v.contains(("catalog", "c3", "invalid uri: superThemeTaxonomy")))
    // dataset 2 carries every violation; dataset 1 none of them
    assert(v.contains(("dataset", "2", "invalid email: publisher.mbox")))
    assert(v.contains(("dataset", "2", "invalid email: contactPoint.hasEmail")))
    assert(v.contains(("dataset", "2", "invalid uri: landingPage")))
    assert(v.contains(("dataset", "2", "temporal interval start after end")))
    assert(v.contains(("dataset", "2", "theme not in themeTaxonomy: missing_theme")))
    assert(v.contains(("distribution", "2.1", "invalid uri: downloadURL")))
    assert(!v.exists { case (_, id, rule) =>
      id == "1" && (rule.startsWith("invalid") || rule.startsWith("temporal") ||
        rule.startsWith("theme")) })
    // malformed interval (pattern violation) reported separately
    assert(!v.contains(("dataset", "1", "invalid temporal interval")))
  }

  test("ingest fetches distinct URLs with skip-if-exists (S1/S2/D2/P9)") {
    val src = workDir.resolve("payload.bin")
    Files.write(src, Array.fill[Byte](64)(7))
    val staging = workDir.resolve("staging")
    val manifest = Seq(
      (s"file://$src", s"$staging/a.bin"),
      (s"file://$src", s"$staging/a.bin"), // duplicate -> D2 dedup
      ("file:///nonexistent/nope.bin", s"$staging/b.bin"))
      .toDF("url", "target")
    val r1 = Ingest.fetchAll(spark, manifest, tries = 2, retryDelayMs = 10)
      .collect().map(r => r.getAs[String]("target") ->
        r.getAs[String]("status")).toMap
    assert(r1(s"$staging/a.bin") == "OK")
    assert(r1(s"$staging/b.bin") == "ERROR")
    assert(Files.size(Paths.get(s"$staging/a.bin")) == 64)
    // P9: second run skips the landed file
    val r2 = Ingest.fetchAll(spark, manifest, tries = 1, retryDelayMs = 10)
      .collect().map(r => r.getAs[String]("target") ->
        r.getAs[String]("status")).toMap
    assert(r2(s"$staging/a.bin") == "SKIPPED")
  }

  test("TXT distribution scan with delimiter (S6)") {
    val txt = workDir.resolve("d.txt")
    Files.writeString(txt,
      "indice_tiempo;v1;v2\n2020-01-01;1,5;x\n2020-02-01;2;3\n"
        .replace("1,5", "1.5"))
    val df = Ingest.readDistributionTxt(spark, txt.toString, ";")
    val rows = df.orderBy("indice_tiempo").collect()
    assert(rows.length == 2)
    assert(rows(0).getDate(0).toString == "2020-01-01")
    assert(rows(0).getDouble(1) == 1.5)
    assert(rows(0).isNullAt(2)) // "x" is a missing token

    // delimiter sniffing + field-metadata-driven layout
    // (load_ts_distribution semantics, processors.py:51-80): time column
    // by declared title, declared series selected in declaration order
    val txt2 = workDir.resolve("d2.txt")
    Files.writeString(txt2,
      "fecha\tjunk\tpib\n2021-01-01\tzzz\t7.5\n2021-02-01\tzzz\t8\n")
    val df2 = Ingest.readDistributionTxt(spark, txt2.toString,
      timeFieldTitle = "fecha", declaredSeries = Seq("pib"))
    assert(df2.columns.toSeq == Seq("indice_tiempo", "pib"))
    val r2 = df2.orderBy("indice_tiempo").collect()
    assert(r2(0).getDate(0).toString == "2021-01-01" &&
      r2(0).getDouble(1) == 7.5)
  }

  test("TXT delimiter sniffing reads the header on the driver (S6)") {
    // CRLF line ends: the sniffed header line carries no '\r'
    val txt = workDir.resolve("crlf.txt")
    Files.writeString(txt, "fecha|pib|pbi\r\n2021-01-01|7.5|1\r\n")
    def readJobs(delimiter: String): (Int, Seq[String]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val df = Ingest.readDistributionTxt(spark, txt.toString, delimiter,
          timeFieldTitle = "fecha")
        Thread.sleep(500) // let the async listener bus drain
        (jobs.get(), df.columns.toSeq)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (sniffed, columns) = readJobs("")
    assert(columns == Seq("indice_tiempo", "pib", "pbi"))
    // the sniff itself adds no job to the reader's own
    assert(sniffed == readJobs("|")._1)
  }

  test("validation is schema-file-driven: editing a schema changes enforcement") {
    import graft.operators.SchemaRules
    // parse unit: required + anyOf patterns + formats + $ref temporal
    val ds = SchemaRules.loadDefault("dataset")
    assert(ds.required.contains("accrualPeriodicity"))
    val accrual = ds.rules.find(_.dotted == "accrualPeriodicity").get
    assert(accrual.patterns.size == 3) // three anyOf branches
    assert(ds.rules.find(_.dotted == "publisher.mbox").get.kind == "email")
    assert(ds.rules.find(_.dotted == "temporal").get.kind == "temporal")

    val json = """{"identifier":"c9","title":"t","description":"d",
      |"publisher":{"name":"p"},"superThemeTaxonomy":"http://x",
      |"dataset":[
      | {"identifier":"1","title":"ok","description":"d",
      |  "publisher":{"name":"p"},"superTheme":["A"],
      |  "accrualPeriodicity":"quarterly","issued":"2020-01-01",
      |  "distribution":[{"identifier":"1.1","title":"t","issued":"2020",
      |    "field":[{"id":"f1","title":"ft1"}]}]}
      |]}""".stripMargin.replace("\n", "")
    val p = workDir.resolve("val9.json")
    Files.writeString(p, json)
    val catalog = CatalogReader.readJson(spark, p.toString, "c9")

    // built-in profile: "quarterly" violates the R/P… pattern
    val builtIn = CatalogValidator.violations(spark, catalog)
      .select("rule").as[String].collect().toSet
    assert(builtIn.contains("invalid accrualPeriodicity"))

    // drop-in schema dir that ALLOWS the word "quarterly" — no code change
    val dir = workDir.resolve("schemas")
    Files.createDirectories(dir)
    for (lvl <- Seq("catalog", "dataset", "distribution")) {
      val in = getClass.getResourceAsStream(s"/graft/schemas/$lvl.json")
      val txt = new String(in.readAllBytes()); in.close()
      Files.writeString(dir.resolve(s"$lvl.json"),
        if (lvl == "dataset")
          txt.replace("\"^eventual$\"", "\"^(eventual|quarterly)$\"")
        else txt)
    }
    val custom = CatalogValidator
      .violations(spark, catalog, Some(dir.toString))
      .select("rule").as[String].collect().toSet
    assert(!custom.contains("invalid accrualPeriodicity"))
  }

  test("field/theme levels are schema-file-driven: a drop-in field.json edit changes enforcement") {
    import graft.operators.SchemaRules
    // built-ins mirror the reference's field.json/theme.json (type-only
    // constraints — base.py:423-453 validates them generically), so
    // they parse to zero pattern rules and change nothing by default
    assert(SchemaRules.loadDefault("field").rules.isEmpty)
    assert(SchemaRules.loadDefault("theme").rules.isEmpty)

    val json = """{"identifier":"c10","title":"t","description":"d",
      |"publisher":{"name":"p"},"superThemeTaxonomy":"http://x",
      |"themeTaxonomy":[{"id":"TH 1","label":"l","description":"d"}],
      |"dataset":[
      | {"identifier":"1","title":"ok","description":"d",
      |  "publisher":{"name":"p"},"superTheme":["A"],
      |  "accrualPeriodicity":"R/P1M","issued":"2020-01-01",
      |  "distribution":[{"identifier":"1.1","title":"t","issued":"2020",
      |    "field":[{"id":"bad id!","title":"ft1"},
      |             {"id":"good_id","title":"ft2"}]}]}
      |]}""".stripMargin.replace("\n", "")
    val p = workDir.resolve("val10.json")
    Files.writeString(p, json)
    val catalog = CatalogReader.readJson(spark, p.toString, "c10")

    // default profile: no field/theme pattern rules → no violations
    val builtIn = CatalogValidator.violations(spark, catalog)
      .filter(col("level").isin("field", "theme"))
      .select("rule").as[String].collect().toSet
    assert(builtIn.isEmpty, s"default field/theme must be unconstrained: $builtIn")

    // drop-in PARTIAL override dir: only field.json + theme.json with
    // id patterns — the other levels fall back to built-ins
    val dir = workDir.resolve("schemas10")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("field.json"),
      """{"type":"object","properties":{
        |"id":{"type":"string","pattern":"^[A-Za-z0-9_]+$"}}}""".stripMargin)
    Files.writeString(dir.resolve("theme.json"),
      """{"type":"object","properties":{
        |"id":{"type":"string","pattern":"^[A-Za-z0-9]+$"}}}""".stripMargin)
    val custom = CatalogValidator
      .violations(spark, catalog, Some(dir.toString))
      .filter(col("level").isin("field", "theme"))
      .select("level", "identifier", "rule").as[(String, String, String)]
      .collect().toSet
    assert(custom.contains(("field", "bad id!", "invalid id")), s"$custom")
    assert(custom.contains(("theme", "TH 1", "invalid id")), s"$custom")
    assert(!custom.exists(_._2 == "good_id"), s"$custom")
  }
}
