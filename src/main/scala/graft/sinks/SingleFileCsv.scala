package graft.sinks

import java.io.OutputStreamWriter
import java.nio.charset.Charset
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import scala.util.Try

/** K1 — exact-filename single-file CSV sink (SURVEY §2.2 K1; reference
  * base.py:266-279 writes one tidy CSV per distribution at an exact
  * path `…/distribution/{id}/download/{fileName}`).
  *
  * The reference writes one file per loop iteration; here every file of
  * a catalog comes out of ONE Spark pass over the long form
  * `(distribution_id, serie_id, indice_tiempo, valor)`: a shuffle by
  * distribution, a sort by time within each task, and a task-side
  * writer that rebuilds each distribution's wide rows and writes them
  * with Spark's own CSV generator (`UnivocityGenerator`) under the
  * options below, so the bytes are what the CSV datasource writes.
  * Each file is written to a hidden sibling and renamed over the target
  * atomically. Targets must be paths every executor can reach (a local
  * or shared file system).
  *
  * Fault isolation (§2.10): a write that fails becomes that
  * distribution's error text in the result; the other files are
  * written. A failure of the job itself (its input cannot be computed)
  * is thrown to the caller.
  */
object SingleFileCsv {

  /** One output file: the distribution whose rows it holds, its exact
    * path, and its header in order — `indice_tiempo` and serie ids. */
  final case class Target(distributionId: String, path: String,
      columns: Seq[String])

  /** The reference's output contract: header line, UTF-8, ISO dates. */
  private val Options = Map("header" -> "true",
    "dateFormat" -> "yyyy-MM-dd", "timestampFormat" -> "yyyy-MM-dd HH:mm:ss")

  private final case class Cell(distributionId: String, serieId: String,
      time: Any, valor: Any)

  /** Write every target's file from `long` in one Spark action. A
    * target's rows are its distribution's rows of `long`, one per
    * distinct time in time order, each serie's value in its header
    * column (the `pivot … first(valor)` of `TimeSeriesOps.alignWide`).
    * Returns, for every target, the number of rows written or the error
    * text; a target with no rows in `long` is an error. */
  def writeAll(long: DataFrame,
      targets: Seq[Target]): Map[String, Either[String, Long]] = {
    if (targets.isEmpty) return Map.empty
    val spark = long.sparkSession
    val byId = targets.map(t => t.distributionId -> t).toMap
    val rows = long
      .filter(col("distribution_id").isin(byId.keys.toSeq: _*))
      .select(col("distribution_id"), col("serie_id"), col("indice_tiempo"),
        col("valor"))
      .repartition(math.min(targets.size,
        spark.sparkContext.defaultParallelism), col("distribution_id"))
      .sortWithinPartitions(col("distribution_id"), col("indice_tiempo"))
    val timeType = rows.schema("indice_tiempo").dataType
    val valueType = rows.schema("valor").dataType
    val timeZone = spark.conf.get("spark.sql.session.timeZone")
    val qe = rows.queryExecution
    val written = SQLExecution.withNewExecutionId(qe, Some("writeAll")) {
      qe.toRdd.mapPartitions { it =>
        val options = new CSVOptions(Options, false, timeZone)
        // copy each row out: the scan reuses its row object
        val cells = it.map(r => Cell(r.getUTF8String(0).toString,
          if (r.isNullAt(1)) null else r.getUTF8String(1).toString,
          if (r.isNullAt(2)) null else r.get(2, timeType),
          if (r.isNullAt(3)) null else r.get(3, valueType))).buffered
        val results = Seq.newBuilder[(String, Either[String, Long])]
        while (cells.hasNext) {
          val id = cells.head.distributionId
          val mine = new Iterator[Cell] {
            def hasNext = cells.hasNext && cells.head.distributionId == id
            def next() = cells.next()
          }
          results += id -> Try(writeOne(byId(id), mine, options, timeType,
            valueType)).toEither.left.map(_.toString)
          mine.foreach(_ => ()) // skip what a failed write left unread
        }
        results.result().iterator
      }.collect().toMap
    }
    targets.map(t => t.distributionId -> written.getOrElse(t.distributionId,
      Left(s"${t.distributionId}: no rows to write"))).toMap
  }

  /** Write one distribution's time-sorted cells to a hidden sibling of
    * its target, then rename it over the target. */
  private def writeOne(t: Target, cells: Iterator[Cell], options: CSVOptions,
      timeType: DataType, valueType: DataType): Long = {
    val position = t.columns.zipWithIndex.toMap
    val timePos = position.getOrElse("indice_tiempo",
      throw new IllegalArgumentException(
        s"${t.distributionId}: no indice_tiempo column"))
    val schema = StructType(t.columns.map(c => StructField(c,
      if (c == "indice_tiempo") timeType else valueType)))
    val target = Paths.get(t.path)
    Files.createDirectories(target.getParent)
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${java.util.UUID.randomUUID}.tmp")
    try {
      val gen = new UnivocityGenerator(schema, new OutputStreamWriter(
        Files.newOutputStream(tmp), Charset.forName(options.charset)), options)
      var n = 0L
      try {
        gen.writeHeaders()
        val row = new GenericInternalRow(t.columns.size)
        var open = false
        var time: Any = null
        cells.foreach { c =>
          if (!open || c.time != time) {
            if (open) { gen.write(row); n += 1 }
            (0 until t.columns.size).foreach(row.setNullAt)
            row.update(timePos, c.time)
            time = c.time
            open = true
          }
          position.get(c.serieId).filter(_ != timePos)
            .foreach(row.update(_, c.valor))
        }
        if (open) { gen.write(row); n += 1 }
      } finally gen.close()
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      n
    } finally Files.deleteIfExists(tmp)
  }
}
