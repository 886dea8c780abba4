package graft.sources

import java.io.InputStream
import java.net.{HttpURLConnection, URI}
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S1/S2 — manifest-driven ingest: fetch each distinct source URL once
  * into a staging directory (SURVEY §2.1 S1-S2, §2.4 D2, §2.10;
  * reference download.py + base.py:546-587,917-930).
  *
  * The manifest is a DataFrame of (url, target); dedup (D2) is a
  * `distinct()` on it, skip-if-exists (P9) an executor-side check, the
  * fetch itself runs in `mapPartitions` on executors — the driver never
  * holds file bytes. Retries with sleep mirror download.py:35-50;
  * failures are captured as result rows (never thrown), the
  * download-error tolerance of base.py:926-930.
  */
object Ingest {

  final case class FetchResult(url: String, target: String, status: String,
      message: String, bytes: Long)

  /** Per-catalog download settings (reference download.py:13-50 params
    * `tries` / `retry_delay` / `try_timeout` / `proxies` / `verify`,
    * merged from config_downloads.yaml via
    * `ConfigYaml.downloadConfig`). */
  final case class DownloadConfig(tries: Int = 3, retryDelayMs: Long = 1000L,
      timeoutMs: Int = 30000, proxyHost: Option[String] = None,
      proxyPort: Int = 0, verifyTls: Boolean = true)

  object DownloadConfig {
    /** From a merged config_downloads subsection. Seconds in the file
      * (as in the reference), millis here; `proxies.http(s)` hosts in
      * `host:port` or URL form. */
    def fromParams(params: Map[String, String]): DownloadConfig = {
      def secsToMs(key: String): Option[Long] =
        params.get(key).flatMap(_.toDoubleOption).map(s => (s * 1000).toLong)
      val proxy = params.get("proxies.https").orElse(params.get("proxies.http"))
        .map(_.replaceFirst("^[a-z]+://", ""))
      DownloadConfig(
        tries = params.get("tries").flatMap(_.toIntOption).getOrElse(3),
        retryDelayMs = secsToMs("retry_delay").getOrElse(1000L),
        timeoutMs = secsToMs("try_timeout").map(_.toInt).getOrElse(30000),
        proxyHost = proxy.map(_.split(':').head).filter(_.nonEmpty),
        proxyPort = proxy.flatMap(_.split(':').lift(1))
          .flatMap(_.toIntOption).getOrElse(8080),
        verifyTls = !params.get("verify").exists(v =>
          v.equalsIgnoreCase("false") || v.equalsIgnoreCase("no")))
    }
  }

  /** Fetch every distinct (url, target) row. Columns required: `url`,
    * `target`. Returns one FetchResult row per distinct pair. */
  def fetchAll(spark: SparkSession, manifest: DataFrame,
      tries: Int = 3, retryDelayMs: Long = 1000L, timeoutMs: Int = 30000,
      replace: Boolean = false): DataFrame =
    fetchAllConfigured(spark, manifest,
      DownloadConfig(tries, retryDelayMs, timeoutMs), replace)

  /** fetchAll with the full per-catalog download configuration. */
  def fetchAllConfigured(spark: SparkSession, manifest: DataFrame,
      cfg: DownloadConfig, replace: Boolean = false): DataFrame = {
    import spark.implicits._
    // mirror of urllib3's InsecureRequestWarning: a verify:false config
    // must never ship silently (ADVICE r2) — one line per fetchAll call.
    if (!cfg.verifyTls)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "TLS certificate verification DISABLED for this catalog's " +
          "downloads (config verify:false) — connections are exposed to " +
          "man-in-the-middle interception")
    manifest.select(col("url"), col("target")).distinct()
      .as[(String, String)]
      .mapPartitions(_.map { case (url, target) =>
        fetchOne(url, target, cfg.tries, cfg.retryDelayMs, cfg.timeoutMs,
          replace, cfg)
      })
      .toDF()
  }

  /** One URL -> file, with bounded retries. file:// and http(s)://
    * both supported (file for tests / local lakes). */
  def fetchOne(url: String, target: String, tries: Int,
      retryDelayMs: Long, timeoutMs: Int, replace: Boolean,
      cfg: DownloadConfig = DownloadConfig()): FetchResult = {
    val targetPath = Paths.get(target)
    if (!replace && Files.exists(targetPath))
      return FetchResult(url, target, "SKIPPED", "exists",
        Files.size(targetPath))
    var attempt = 0
    var lastError: Throwable = null
    while (attempt < tries) {
      attempt += 1
      try {
        Files.createDirectories(targetPath.getParent)
        val in = open(url, timeoutMs, cfg)
        try {
          val tmp = targetPath.resolveSibling(
            targetPath.getFileName.toString + ".part")
          Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
          Files.move(tmp, targetPath, StandardCopyOption.REPLACE_EXISTING)
        } finally in.close()
        return FetchResult(url, target, "OK", "", Files.size(targetPath))
      } catch {
        // NonFatal only: an InterruptedException (task kill) or a
        // JVM-fatal error must not be swallowed into an ERROR row —
        // retrying/sleeping after those would delay task cancellation.
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          return FetchResult(url, target, "ERROR",
            s"interrupted: ${e.toString.take(280)}", 0L)
        case scala.util.control.NonFatal(e) =>
          lastError = e
          if (attempt < tries)
            try Thread.sleep(retryDelayMs)
            catch { case ie: InterruptedException =>
              Thread.currentThread().interrupt()
              return FetchResult(url, target, "ERROR",
                s"interrupted: ${ie.toString.take(280)}", 0L)
            }
      }
    }
    FetchResult(url, target, "ERROR",
      Option(lastError).map(_.toString.take(300)).getOrElse(""), 0L)
  }

  private def open(url: String, timeoutMs: Int,
      cfg: DownloadConfig): InputStream = {
    val u = new URI(url).toURL
    val conn = cfg.proxyHost match {
      case Some(host) => u.openConnection(new java.net.Proxy(
        java.net.Proxy.Type.HTTP,
        new java.net.InetSocketAddress(host, cfg.proxyPort)))
      case None => u.openConnection()
    }
    conn match {
      case h: javax.net.ssl.HttpsURLConnection if !cfg.verifyTls =>
        // mirror of the reference's verify=False (download.py:33-37):
        // per-connection only, never the JVM default
        h.setSSLSocketFactory(trustAllContext.getSocketFactory)
        h.setHostnameVerifier((_, _) => true)
        h.setConnectTimeout(timeoutMs)
        h.setReadTimeout(timeoutMs)
        h.setInstanceFollowRedirects(true)
        h.getInputStream
      case h: HttpURLConnection =>
        h.setConnectTimeout(timeoutMs)
        h.setReadTimeout(timeoutMs)
        h.setInstanceFollowRedirects(true)
        h.getInputStream
      case other =>
        other.setConnectTimeout(timeoutMs)
        other.getInputStream
    }
  }

  private lazy val trustAllContext: javax.net.ssl.SSLContext = {
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(null, Array[javax.net.ssl.TrustManager](
      new javax.net.ssl.X509TrustManager {
        def checkClientTrusted(c: Array[java.security.cert.X509Certificate],
            t: String): Unit = ()
        def checkServerTrusted(c: Array[java.security.cert.X509Certificate],
            t: String): Unit = ()
        def getAcceptedIssuers: Array[java.security.cert.X509Certificate] =
          Array.empty
      }), null)
    ctx
  }

  /** S6 — TXT distribution scan: delimited text with a header line
    * (reference TXTProcessor delegating to `load_ts_distribution`,
    * processors.py:51-80 — FIELD-METADATA-driven parsing). The time
    * column is located by the declared time_index field title (not a
    * hardcoded name), declared series are selected in declaration
    * order, and the delimiter is sniffed from the header line when not
    * given. Same normalization battery as the CSV path. */
  def readDistributionTxt(spark: SparkSession, path: String,
      delimiter: String = "", timeFieldTitle: String = "indice_tiempo",
      declaredSeries: Seq[String] = Seq.empty): DataFrame = {
    val sep =
      if (delimiter.nonEmpty) delimiter
      else sniffDelimiter(spark, path)
    val raw = spark.read
      .option("header", "true").option("sep", sep)
      .csv(path)
    val timeCol =
      if (raw.columns.contains(timeFieldTitle)) timeFieldTitle
      else "indice_tiempo"
    val valueCols =
      if (declaredSeries.nonEmpty) declaredSeries.filter(raw.columns.contains)
      else raw.columns.filterNot(_ == timeCol).toSeq
    raw.select(
      to_date(col(timeCol)).as("indice_tiempo") +:
        valueCols.map(c =>
          graft.functions.GF.normalizeValue(col(c)).as(c)): _*)
  }

  /** Pick the candidate delimiter that splits the header line into the
    * most cells — pandas-style sniffing for the reference's mixed
    * TXT sources. The header line is read on the driver (UTF-8, line
    * terminator stripped); it needs no Spark job. */
  private def sniffDelimiter(spark: SparkSession, path: String): String = {
    val header = scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(path)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      try new java.io.BufferedReader(new java.io.InputStreamReader(in,
          java.nio.charset.StandardCharsets.UTF_8)).readLine()
      finally in.close()
    }.toOption.flatMap(Option(_)).getOrElse("")
    Seq(",", ";", "\t", "|")
      .maxBy(d => header.split(java.util.regex.Pattern.quote(d), -1).length)
  }
}
