package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_summary.json: `n_queries`, `n_ok`, `failed` (name → message)
  * and `wall_ms` (name → ms). A failing query is logged and counted,
  * never fatal. Runs the suite session Bench times. */
object Verify {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.start(GraftSession.suite)
    new java.io.File(outDir).mkdirs()
    val only = GraftSession.querySubset
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val wallMs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case NonFatal(e) =>
          log.warn(s"$name failed", e)
          failed(name) = Option(e.getMessage).getOrElse(e.toString)
        }
        name -> (System.nanoTime() - t0) / 1000000L
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",", "}")
    val json = obj(SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => k -> q(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_summary.json"),
      obj(Seq("n_queries" -> wallMs.size.toString,
        "n_ok" -> (wallMs.size - failed.size).toString,
        "failed" -> obj(failed.map { case (k, m) => k -> q(m) }),
        "wall_ms" -> obj(wallMs.map { case (k, ms) => k -> ms.toString }))))
    spark.stop()
  }
}
