package perfbench

/** A minimal JSON value for the harness's own output (the result line
  * and the artifact). Reading JSON goes through Jackson, which ships
  * with Spark. */
sealed trait Json { def render: String }

object Json {
  final case class Str(s: String) extends Json {
    def render: String = quote(s)
  }
  final case class Num(d: Double) extends Json {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else java.lang.Double.toString(d)
  }
  final case class Bool(b: Boolean) extends Json {
    def render: String = b.toString
  }
  final case class Arr(items: Seq[Json]) extends Json {
    def render: String = items.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(fields: Seq[(String, Json)]) extends Json {
    def render: String = fields
      .map { case (k, v) => quote(k) + ":" + v.render }
      .mkString("{", ",", "}")
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Harrell–Davis estimate of quantile q: a weighted sum of all order
    * statistics, with weights from the Beta((n+1)q, (n+1)(1-q))
    * distribution. With the few items one run has, it moves smoothly
    * where the nearest-rank quantile jumps between neighbours. */
  def harrellDavis(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else if (xs.size == 1) xs.head
    else {
      val s = xs.sorted
      val n = s.size
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        (n + 1) * q, (n + 1) * (1 - q))
      s.indices.map { i =>
        (beta.cumulativeProbability((i + 1).toDouble / n) -
          beta.cumulativeProbability(i.toDouble / n)) * s(i)
      }.sum
    }

  /** Nearest-rank percentile, q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}

/** Host facts recorded with every run, so that drift between runs can
  * be told apart from drift in the program. */
object Host {
  /** (total jiffies, steal jiffies) from /proc/stat. */
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val l = try src.getLines().next() finally src.close()
      val p = l.trim.split("\\s+").drop(1).map(_.toLong)
      (p.sum, if (p.length > 7) p(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** VmHWM of this JVM, MB. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      val kb = try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
      finally src.close()
      kb / 1024.0
    } catch { case scala.util.control.NonFatal(_) => Double.NaN }

  /** Best of three runs of a compute-bound Spark job. */
  def cpuProbeSeconds(spark: org.apache.spark.sql.SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Best single-thread copy bandwidth over 64 MB, GB/s. */
  def memoryBandwidthGbps(): Double = {
    val n = 8 * 1024 * 1024
    val src = Array.tabulate(n)(i => i * 0x9E3779B97F4A7C15L)
    val dst = new Array[Long](n)
    (1 to 4).map { _ =>
      val t0 = System.nanoTime()
      System.arraycopy(src, 0, dst, 0, n)
      2.0 * n * 8 / ((System.nanoTime() - t0) / 1e9) / 1e9
    }.max
  }
}
