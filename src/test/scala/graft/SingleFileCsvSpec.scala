package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.TimeSeriesOps
import graft.sinks.SingleFileCsv
import scala.jdk.CollectionConverters._

/** K1 batch sink: every file of a catalog from one pass, byte-equal to
  * what Spark's CSV datasource writes for the same wide frame. */
class SingleFileCsvSpec extends SparkSpec {

  private lazy val workDir = Files.createTempDirectory("graft-k1")

  private def date(s: String) = java.sql.Date.valueOf(s)

  /** A distribution's wide frame: `indice_tiempo` then one double
    * column per serie. */
  private def wide(series: Seq[String], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(
      StructField("indice_tiempo", DateType) +:
        series.map(StructField(_, DoubleType))))

  /** The bytes the CSV datasource writes for `df` with the K1 options. */
  private def reference(df: DataFrame, dir: Path): Array[Byte] = {
    df.coalesce(1).sortWithinPartitions("indice_tiempo")
      .write.mode("overwrite")
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(dir.toString)
    val part = Files.list(dir).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-")).get
    Files.readAllBytes(part)
  }

  private def siblings(target: String): Set[String] =
    Files.list(Paths.get(target).getParent).iterator().asScala
      .map(_.getFileName.toString).toSet

  // five distributions over at most four tasks: at least two share one
  private lazy val frames: Seq[(String, DataFrame)] = Seq(
    "1.1" -> wide(Seq("a", "b"), Seq(
      Row(date("2020-03-01"), 1.5, null),
      Row(date("2020-01-01"), null, -2.25),
      Row(date("2020-02-01"), 1.0e7, 1.0e-4))),
    "1.2" -> wide(Seq("x,\"y\"", "z"), Seq(
      Row(date("2021-01-01"), -0.5, 3.0),
      Row(date("2021-02-01"), null, null))),
    "1.3" -> wide(Seq("m"), Seq(
      Row(date("2019-12-01"), 123456789.0),
      Row(date("2019-11-01"), -1.0e-7))),
    "1.4" -> wide(Seq("p", "q", "r"), Seq(
      Row(date("2022-06-01"), 0.0, -0.0, 2.5e10))),
    "1.5" -> wide(Seq("s"), Seq(
      Row(date("2020-01-01"), 42.0),
      Row(date("2020-04-01"), null))))

  private def long(fs: Seq[(String, DataFrame)]): DataFrame =
    fs.map { case (id, df) => TimeSeriesOps.stackWide(df, id) }
      .reduce(_.unionByName(_))

  test("writeAll is byte-equal to the CSV datasource, one file per target") {
    val out = workDir.resolve("bytes")
    val targets = frames.map { case (id, df) =>
      SingleFileCsv.Target(id, out.resolve(s"$id/download/$id.csv").toString,
        df.columns.toSeq) }
    val written = SingleFileCsv.writeAll(long(frames), targets)
    assert(written == frames.map { case (id, df) =>
      id -> Right(df.count()) }.toMap, written)
    frames.zip(targets).foreach { case ((id, df), t) =>
      val expected = reference(df, workDir.resolve(s"ref-$id"))
      val actual = Files.readAllBytes(Paths.get(t.path))
      assert(new String(actual, "UTF-8") == new String(expected, "UTF-8"), id)
      assert(actual.sameElements(expected), id)
      assert(siblings(t.path) == Set(s"$id.csv"), id) // no temp left
    }
    // the quoting and number forms the fixture is there for
    val text = new String(Files.readAllBytes(Paths.get(targets(1).path)),
      "UTF-8")
    assert(text.startsWith("indice_tiempo,\"x,\\\"y\\\"\",z\n"), text)
    val first = Files.readAllLines(Paths.get(targets.head.path)).asScala
    assert(first == Seq("indice_tiempo,a,b", "2020-01-01,,-2.25",
      "2020-02-01,1.0E7,1.0E-4", "2020-03-01,1.5,"), first)
  }

  test("writeAll overwrites an existing file and reports a target with no rows") {
    val out = workDir.resolve("rewrite")
    val t = SingleFileCsv.Target("1.5", out.resolve("1.5.csv").toString,
      Seq("indice_tiempo", "s"))
    Files.createDirectories(out)
    Files.writeString(Paths.get(t.path), "stale\n")
    val missing = SingleFileCsv.Target("9.9", out.resolve("9.9.csv").toString,
      Seq("indice_tiempo", "s"))
    val written = SingleFileCsv.writeAll(long(frames), Seq(t, missing))
    assert(written == Map("1.5" -> Right(2L),
      "9.9" -> Left("9.9: no rows to write")), written)
    assert(Files.readAllLines(Paths.get(t.path)).asScala ==
      Seq("indice_tiempo,s", "2020-01-01,42.0", "2020-04-01,"))
    assert(siblings(t.path) == Set("1.5.csv"))
  }

  test("a failing write is that target's error; the others are written") {
    val out = workDir.resolve("failing")
    val targets = frames.map { case (id, df) =>
      SingleFileCsv.Target(id, out.resolve(s"$id/download/$id.csv").toString,
        df.columns.toSeq) }
    // 1.3's download directory is a regular file: its write cannot start
    val blocker = out.resolve("1.3/download")
    Files.createDirectories(blocker.getParent)
    Files.writeString(blocker, "not a directory")
    val written = SingleFileCsv.writeAll(long(frames), targets)
    val error = written("1.3").left.getOrElse("")
    assert(error.contains("FileAlreadyExistsException") &&
      error.contains(blocker.toString), written)
    targets.filter(_.distributionId != "1.3").foreach { t =>
      assert(written(t.distributionId).isRight, written)
      assert(siblings(t.path) == Set(s"${t.distributionId}.csv"))
    }
    assert(Files.readString(blocker) == "not a directory")
  }
}
