package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** GraftSession is the only session builder, and its two settings lists
  * are pinned as data: `perfbench`'s `Main.session` mirrors both, so a
  * drift here must fail a test rather than silently split the benchmark
  * from the mains. */
class GraftSessionSpec extends AnyFunSuite {

  /** Scala source with comments (nested block comments too) removed;
    * string and char literals are kept, so a comment marker inside one
    * does not start a comment. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      if (at("//")) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 0
        do {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
        } while (depth > 0 && i < src.length)
        out += ' '
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) src.length else end + 3
        out ++= src.substring(i, stop); i = stop
      } else if (src(i) == '"') {
        out += '"'; i += 1
        while (i < src.length && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\') { out += src(i); i += 1 }
          if (i < src.length) { out += src(i); i += 1 }
        }
        if (i < src.length) { out += src(i); i += 1 }
      } else if (at("'\\") || (src(i) == '\'' && src.startsWith("'", i + 2))) {
        val end = src.indexOf('\'', if (at("'\\")) i + 3 else i + 2)
        val stop = if (end < 0) src.length else end + 1
        out ++= src.substring(i, stop); i = stop
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private val builderCall = """SparkSession\s*\.\s*builder\s*\(""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("comment stripping keeps code and literals, drops comments") {
    // spelled in two pieces so this file's own literal is no call
    val call = "SparkSession" + ".builder()"
    val src =
      s"""val a = "x // not a comment" // gone
        |/* gone $call */ val b = '"'
        |val c = "/*" + $call
        |val d = '\\'' /** gone /* nested */ gone */""".stripMargin
    val c = code(src)
    assert(!c.contains("gone"))
    assert(c.contains("\"x // not a comment\""))
    assert(builderCall.findAllIn(c).size == 1)
    assert(c.contains("'\\''"))
  }

  test("only GraftSession builds sessions (ExtensionsSpec tests raw " +
    "withExtensions injection)") {
    val allowed = Set("GraftSession.scala", "ExtensionsSpec.scala")
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    assert(files.exists(_.getFileName.toString == "GraftSession.scala"))
    val builders = files.filter { p =>
      builderCall.findFirstIn(code(Files.readString(p))).isDefined
    }.map(_.getFileName.toString)
    assert(builders.toSet == allowed, builders)
  }

  test("suite settings are the query suite's (Bench, Verify, tests)") {
    assert(GraftSession.suite(7).toMap == Map(
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.files.openCostInBytes" -> "1m",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false"))
    assert(GraftSession.suite(7).size == 10, "a key is set twice")
  }

  test("etl settings are Etl.main's (mirrored by perfbench)") {
    assert(GraftSession.etl(3).toMap == Map(
      "spark.app.name" -> "graft-etl",
      "spark.sql.shuffle.partitions" -> "3",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.ui.enabled" -> "false"))
    assert(GraftSession.etl(3).size == 6, "a key is set twice")
  }

  test("query names: comma list, blanks and spaces dropped") {
    assert(GraftSession.names(" q01, ,q02,,") == Seq("q01", "q02"))
  }
}
