package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.operators.Reports
import graft.sinks.{EmailSink, ReportXlsx}
import graft.sources.{ConfigYaml, Ingest}

import scala.util.Try

/** The reference's top-level ETL lifecycle (main.py:41-97 +
  * base.py:1046-1130): read `index.yaml`, and per catalog —
  * download the catalog document, run extraction validation + the
  * scraping pipeline, write the named reports, optionally send the
  * stage e-mails from `config_email.yaml`.
  *
  *   sbt "runMain graft.Etl --config-dir config --output output \
  *     [--catalog-id-filter id] [--distribution-id-filter id] \
  *     [--replace true|false] [--interactive]"
  *
  * Per-catalog failures are isolated (logged, the next catalog still
  * runs) exactly like the reference's per-node try/except.
  */
object Etl {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Args(configDir: String = "config",
      indexPath: Option[String] = None, outputDir: String = "output",
      replace: Boolean = true, interactive: Boolean = false,
      catalogIdFilter: Option[String] = None,
      distributionIdFilter: Option[String] = None)

  def parseArgs(argv: Seq[String]): Args = {
    @annotation.tailrec
    def go(rest: List[String], acc: Args): Args = rest match {
      case "--config" :: v :: t => go(t, acc.copy(indexPath = Some(v)))
      case "--config-dir" :: v :: t => go(t, acc.copy(configDir = v))
      case "--output" :: v :: t => go(t, acc.copy(outputDir = v))
      case "--replace" :: v :: t => go(t, acc.copy(replace = v.toBoolean))
      case "--interactive" :: t => go(t, acc.copy(interactive = true))
      case "--catalog-id-filter" :: v :: t =>
        go(t, acc.copy(catalogIdFilter = Some(v)))
      case "--distribution-id-filter" :: v :: t =>
        go(t, acc.copy(distributionIdFilter = Some(v)))
      case Nil => acc
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    go(argv.toList, Args())
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv.toSeq)
    val spark = GraftSession.start(GraftSession.etl)
    try runAll(spark, args)
    finally spark.stop()
  }

  private def readDoc(path: String): Option[ConfigYaml.Mapping] =
    Try(ConfigYaml.parse(Files.readString(Paths.get(path)))).toOption

  /** The full multi-catalog run; separated from main() so tests drive
    * it with their own session. Returns per-catalog results. */
  def runAll(spark: SparkSession, args: Args): Map[String, Pipeline.RunResult] = {
    val indexPath = args.indexPath.getOrElse(s"${args.configDir}/index.yaml")
    val index = readDoc(indexPath).getOrElse(
      throw new IllegalArgumentException(s"cannot read index at $indexPath"))
    // missing/unparseable configs degrade to defaults, as in the
    // reference (base.py:950-961, 1098-1109)
    val downloadsDoc = readDoc(s"${args.configDir}/config_downloads.yaml")
      .getOrElse(ConfigYaml.Mapping(Map.empty))
    val emailDoc = readDoc(s"${args.configDir}/config_email.yaml")
    val environment = readDoc(s"${args.configDir}/config_general.yaml")
      .flatMap(_.scalar("environment")).getOrElse("dev")

    val catalogs = ConfigYaml.catalogIndex(index)
      .filter { case (id, _) => args.catalogIdFilter.forall(_ == id) }

    catalogs.flatMap { case (catalogId, (url, formato)) =>
      Try {
        val dlCfg = ConfigYaml.downloadConfig(downloadsDoc, catalogId)
        val catCfg = Ingest.DownloadConfig.fromParams(dlCfg("catalog"))
        val srcCfg = Ingest.DownloadConfig.fromParams(dlCfg("sources"))

        // land the catalog document itself (base.py:917-938)
        val ext = if (formato == "xlsx") "xlsx" else "json"
        val catalogLocal =
          s"${args.outputDir}/catalog/$catalogId/catalog.$ext"
        val fetched = Ingest.fetchOne(url, catalogLocal, catCfg.tries,
          catCfg.retryDelayMs, catCfg.timeoutMs,
          replace = !args.interactive, catCfg)
        require(fetched.status != "ERROR",
          s"catalog download failed: ${fetched.message}")

        val staging = s"${args.outputDir}/catalog/$catalogId/sources"
        val result =
          if (formato == "xlsx")
            Pipeline.runXlsx(spark, catalogLocal, catalogId,
              args.outputDir, stagingDir = Some(staging),
              replace = args.replace, download = srcCfg,
              interactive = args.interactive,
              distributionIdFilter = args.distributionIdFilter)
          else
            Pipeline.run(spark, catalogLocal, catalogId, args.outputDir,
              grids = Map.empty, stagingDir = Some(staging),
              replace = args.replace, download = srcCfg,
              interactive = args.interactive,
              distributionIdFilter = args.distributionIdFilter)

        sendScrapingMail(catalogId, args.outputDir, environment, emailDoc)
        catalogId -> result
      }.fold(e => {
        // catalog-level fault isolation (reference logs + continues)
        log.warn(s"catalog $catalogId failed", e)
        None
      }, Some(_))
    }
  }

  /** Scraping-stage report mail (base.py:797-816): skipped silently
    * when config_email.yaml or the catalog's recipients are absent;
    * transport failures are logged, never fatal. */
  private def sendScrapingMail(catalogId: String, outputDir: String,
      environment: String, emailDoc: Option[ConfigYaml.Mapping],
      transportFor: ConfigYaml.MailerConfig => EmailSink.Transport =
        EmailSink.SmtpTransport.forConfig): Unit =
    for {
      doc <- emailDoc
      mailer <- ConfigYaml.mailer(doc)
      recipients = ConfigYaml.recipients(doc, "scraping", catalogId)
      if recipients.nonEmpty
    } {
      val reportsDir = s"$outputDir/reportes/$catalogId"
      val attachments = Seq(ReportXlsx.DatasetsReportName,
        ReportXlsx.DistributionsReportName)
        .flatMap { name =>
          val p = Paths.get(s"$reportsDir/$name")
          if (Files.exists(p)) Some(name -> Files.readAllBytes(p)) else None
        }
      val subject = Reports.mailSubject("Scraping", catalogId, environment)
      Try(EmailSink.sendStageReport(transportFor(mailer), mailer,
        recipients, subject, s"Reporte de scraping: $catalogId",
        attachments))
        .failed.foreach(e => log.warn(s"mail for $catalogId failed", e))
    }
}
