package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GF
import graft.model.Frequency

/** S7 — coordinate-driven series extraction from a semi-structured sheet
  * (SURVEY §2.1 S7, §2.8 T1/T2; reference processors.py:107-221,
  * XLSERIES_PARAMS processors.py:83-102).
  *
  * The engine's representation of a workbook is a *cell grid* DataFrame
  * `(sheet: string, row: int, col: int, value: string)` — 1-based
  * coordinates, exactly one row per non-empty cell. Any workbook reader
  * (XLSX, CSV-as-grid, test fixtures) lands into this shape; extraction
  * is then pure declarative Spark:
  *
  *   grid --filter(col==c, row>=start)--> vertical slices
  *        --join on row--> aligned long form (J1 without a pivot)
  *
  * Scale: one workbook is small, but a catalog run extracts thousands of
  * workbooks; the grid carries a `sheet` key so all workbooks of a
  * catalog can live in ONE DataFrame and be scraped in ONE pass — the
  * per-file python loop of the reference becomes a single distributed
  * join keyed by (sheet, row).
  */
object CellGrid {

  /** Declared series to scrape: column coordinates already parsed.
    * `headerCell`/`dataStartCell` as in the catalog field metadata. */
  final case class SeriesSpec(serieId: String, headerCell: String,
      dataStartCell: String)

  private def colIdx(cell: String): Int = {
    val letters = cell.takeWhile(_.isLetter).toUpperCase
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1))
  }
  private def rowIdx(cell: String): Int = cell.dropWhile(_.isLetter).toInt

  /** Extract one distribution from a grid: the time index column plus N
    * value series, aligned on sheet row number, returned in long form
    * `(serie_id, indice_tiempo: date, valor: double)` — [[scrapeAll]]
    * over a one-distribution spec.
    *
    * Time labels are parsed leniently (ISO date, year, year+period) —
    * the composed-time fallback of the reference (processors.py:202-221)
    * becomes a coalesce over parse attempts instead of a try/except.
    * Rows whose time label fails to parse are dropped (T2 trim);
    * [[tableBoundsAll]] diffs row bounds for the WARNING.
    */
  def scrapeDistribution(grid: DataFrame, sheet: String,
      timeHeaderCell: String, timeDataStartCell: String, freq: Frequency,
      series: Seq[SeriesSpec]): DataFrame =
    scrapeAll(grid, series.map(sp => BatchSeriesSpec("", sp.serieId, sheet,
        sp.dataStartCell, timeDataStartCell, freq.code)))
      .select(col("serie_id"), col("indice_tiempo"), col("valor"))

  /** Batch spec for [[scrapeAll]]: one row per series across ALL
    * distributions/workbooks. */
  final case class BatchSeriesSpec(distributionId: String, serieId: String,
      sheet: String, dataStartCell: String,
      timeDataStartCell: String, freqCode: String)

  /** ONE-PASS scrape of every distribution of every workbook: the specs
    * become a broadcast table joined against the combined grid — the
    * shape that survives thousands of workbooks (the reference's
    * per-file loop becomes two distributed joins over a single grid
    * DataFrame keyed by sheet).
    *
    * Grid must carry globally-unique sheet names (prefix per workbook).
    * Returns long form `(distribution_id, serie_id, indice_tiempo,
    * valor)` for the whole batch.
    */
  def scrapeAll(grid: DataFrame, specs: Seq[BatchSeriesSpec]): DataFrame = {
    val sparkSession = grid.sparkSession
    import sparkSession.implicits._

    val timeSlices =
      timeSliceAll(grid, specs.map(s =>
        (s.distributionId, s.sheet, s.timeDataStartCell, s.freqCode)))
      .select(col("distribution_id"), col("s"), col("row"),
        col("indice_tiempo"))
      .filter(col("indice_tiempo").isNotNull)

    val valueSpecs = specs
      .map(s => (s.distributionId, s.serieId, s.sheet,
        colIdx(s.dataStartCell), rowIdx(s.dataStartCell)))
      .toDF("distribution_id", "serie_id", "sheet", "series_col",
        "series_start")

    val valueSlices = grid
      .join(broadcast(valueSpecs), grid("sheet") === valueSpecs("sheet") &&
        col("col") === col("series_col") && col("row") >= col("series_start"))
      .select(col("distribution_id").as("d2"), valueSpecs("sheet").as("s2"),
        col("row").as("r2"), col("serie_id"),
        GF.normalizeValue(col("value")).as("valor"))

    timeSlices.join(valueSlices,
        col("distribution_id") === col("d2") && col("s") === col("s2") &&
          col("row") === col("r2"))
      .select(col("distribution_id"), col("serie_id"),
        col("indice_tiempo"), col("valor"))
  }

  /** Every distribution's time column in ONE pass over the combined
    * grid, UNFILTERED: `(distribution_id, s, row, value,
    * indice_tiempo)`. Specs are `(distributionId, sheet,
    * timeDataStartCell, freqCode)`. Single-cell labels parse leniently;
    * composed time fills year markers forward within each
    * distribution's time column (one narrow window keyed by
    * distribution) and composes with the spec-declared frequency. Year
    * markers may sit in the time column itself ("2019" on its own row)
    * or one column to its left (the two-column year|period layout);
    * both are read in the same pass by a per-row conditional
    * aggregate. `value` is null on rows holding only a left year
    * marker. */
  private def timeSliceAll(grid: DataFrame,
      specs: Seq[(String, String, String, String)]): DataFrame = {
    val sparkSession = grid.sparkSession
    import sparkSession.implicits._
    val timeSpecs = specs
      .map { case (d, sheet, cell, freq) =>
        (d, sheet, colIdx(cell), rowIdx(cell), freq) }
      .distinct
      .toDF("distribution_id", "sheet", "time_col", "time_start", "freq")
    val fillW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("distribution_id"))
      .orderBy(col("row"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid
      .join(broadcast(timeSpecs), grid("sheet") === timeSpecs("sheet") &&
        (col("col") === col("time_col") ||
          col("col") === col("time_col") - 1) &&
        col("row") >= col("time_start"))
      .groupBy(col("distribution_id"), timeSpecs("sheet").as("s"),
        col("row"))
      .agg(
        max(when(col("col") === col("time_col"), col("value")))
          .as("value"),
        max(when(col("col") === col("time_col") - 1, col("value")))
          .as("left_value"),
        first(col("freq")).as("freq"))
      .withColumn("yr_filled",
        last(coalesce(yearMarker(col("value")),
          yearMarker(col("left_value"))), ignoreNulls = true).over(fillW))
      .select(col("distribution_id"), col("s"), col("row"), col("value"),
        coalesce(
          parseTimeLabel(col("value")),
          parseComposedLabel(col("value"), col("yr_filled"), col("freq")))
          .as("indice_tiempo"))
  }

  /** T2 batched — table-end bounds for EVERY distribution in ONE job
    * over the combined grid: `table_end` = last non-empty row of the
    * time column, `detected_end` = last row whose label parsed to a
    * date (composed labels included — a composed sheet must not
    * false-warn). `table_end > detected_end` is the reference's trim
    * WARNING, "la distribución termina en la fila N pero no se detectó
    * fecha" (base.py:165-182). Specs as in [[timeSliceAll]]. */
  def tableBoundsAll(grid: DataFrame,
      specs: Seq[(String, String, String, String)]): DataFrame =
    timeSliceAll(grid, specs)
      .groupBy(col("distribution_id"))
      .agg(
        max(when(col("indice_tiempo").isNotNull, col("row")))
          .as("detected_end"),
        max(when(col("value").isNotNull, col("row"))).as("table_end"))

  /** V2 — header-drift guard (validate_distribution_scraping,
    * reference processors.py:147-148): each declared header cell must
    * hold its serie id/title. Every header of every distribution in ONE
    * broadcast join over the combined grid; returns violation rows.
    * Specs are `(distributionId, serieId, sheet, headerCell)`. */
  def headerDriftAll(grid: DataFrame,
      specs: Seq[(String, String, String, String)]): DataFrame = {
    val sparkSession = grid.sparkSession
    import sparkSession.implicits._
    val exp = specs.map { case (d, s, sheet, cell) =>
      (d, s, sheet, colIdx(cell), rowIdx(cell)) }
      .toDF("distribution_id", "serie_id", "sheet", "col", "row")
    broadcast(exp).join(grid, Seq("sheet", "col", "row"), "left")
      .filter(col("value").isNull ||
        GF.stripSpaces(col("value")) =!= col("serie_id"))
      .select(col("distribution_id"), col("serie_id"), col("col"),
        col("row"), col("value").as("found"))
  }

  /** T1 — MULTI-CELL composed time (the reference's xlseries
    * `time_composed=True` path, processors.py:211-221): real ministry
    * workbooks write the year once (its own row, or a separate column)
    * and only a period label ("I".."IV", "1er trim.", "Ene", "S2") on
    * each data row. The year is forward-filled down rows; the period
    * label contributes the starting month at the declared frequency.
    *
    * `yearFilled` is the forward-filled 4-digit year (see
    * [[yearMarker]] + a running `last(..., ignoreNulls)` window);
    * `freqCode` the Frequency.code column ("Q"/"S"/"M"/...). Returns
    * null when the label is not a period label — callers coalesce with
    * [[parseTimeLabel]], which IS the reference's try-composed/fallback
    * collapsed into one expression. `freqCode` must be a real column
    * (the batch spec's): a literal would compare two identical literals,
    * which Spark logs as a trivially-true predicate on every plan
    * build. */
  def parseComposedLabel(v: Column, yearFilled: Column,
      freqCode: Column): Column = {
    def isFreq(code: String): Column = freqCode === lit(code)
    val t = upper(trim(v))
    // quarter number (1-4) from roman, "Qn", "n", or "1er trim." forms
    val quarter = coalesce(
      when(isFreq("Q") && t.rlike("^(IV|III|II|I)$"),
        when(t === "I", 1).when(t === "II", 2).when(t === "III", 3)
          .otherwise(4)),
      when(t.rlike("^Q[1-4]$"), substring(t, 2, 1).cast("int")),
      when(isFreq("Q") && t.rlike("^[1-4]$"), t.cast("int")),
      when(t.rlike("^[1-4](ER|DO|ER\\.|TO|º|°)?\\.?\\s*TRIM.*$"),
        substring(t, 1, 1).cast("int")))
    val semester = coalesce(
      when(isFreq("S") && t.rlike("^(II|I)$"),
        when(t === "I", 1).otherwise(2)),
      when(t.rlike("^S[1-2]$"), substring(t, 2, 1).cast("int")),
      when(isFreq("S") && t.rlike("^[1-2]$"), t.cast("int")),
      when(t.rlike("^[1-2](ER|DO)?\\.?\\s*SEM.*$"),
        substring(t, 1, 1).cast("int")))
    val monthNames = Seq("ENE", "FEB", "MAR", "ABR", "MAY", "JUN",
      "JUL", "AGO", "SEP", "OCT", "NOV", "DIC")
    val month = coalesce(
      when(isFreq("M") && t.rlike("^(0?[1-9]|1[0-2])$"),
        t.cast("int")) +:
        monthNames.zipWithIndex.map { case (m3, i) =>
          val alias = if (m3 == "SEP") substring(t, 1, 3) === "SET"
                      else lit(false)
          when(substring(t, 1, 3) === m3 || alias, lit(i + 1)) }: _*)
    val startMonth = coalesce(
      (quarter - 1) * 3 + 1, (semester - 1) * 6 + 1, month)
    make_date(yearFilled.cast("int"), startMonth, lit(1))
  }

  /** The 4-digit year of a year-marker label ("2019", "2019.0"), else
    * null — the sparse column that gets forward-filled for composed
    * time. */
  def yearMarker(v: Column): Column = {
    val m = regexp_extract(trim(v), "^(\\d{4})(\\.0)?$", 1)
    when(m =!= "", m)
  }

  /** T1 — lenient single-cell time-label parse.
    * Tries, in order: ISO date; year-start for "YYYY"; "YYYY-Qn"/"YYYY Qn"
    * quarter composition; "YYYY-Sn" semester composition; month label
    * "YYYY-MM". This is the declarative analogue of the reference's
    * composed-time retry (processors.py:202-221). */
  def parseTimeLabel(v: Column): Column = {
    val t = trim(v)
    // every parse is regex-guarded so malformed labels yield null, not an
    // ANSI-mode DateTimeException
    val iso = when(t.rlike("^\\d{4}-\\d{2}-\\d{2}$"), to_date(t))
    val year = when(t.rlike("^\\d{4}(\\.0)?$"),
      to_date(concat(substring(t, 1, 4), lit("-01-01"))))
    val yearMonth = when(t.rlike("^\\d{4}-\\d{2}$"),
      to_date(concat(t, lit("-01"))))
    val quarter = when(t.rlike("^\\d{4}[-\\s][Qq][1-4]$"),
      to_date(concat(substring(t, 1, 4), lit("-"),
        lpad(((substring(t, 7, 1).cast("int") - 1) * 3 + 1).cast("string"), 2, "0"),
        lit("-01"))))
    val semester = when(t.rlike("^\\d{4}[-\\s][Ss][12]$"),
      to_date(concat(substring(t, 1, 4), lit("-"),
        lpad(((substring(t, 7, 1).cast("int") - 1) * 6 + 1).cast("string"), 2, "0"),
        lit("-01"))))
    coalesce(iso, quarter, semester, yearMonth, year)
  }

  /** S8 — workbook cache: each distinct grid is typically reused by many
    * distributions of the same catalog; persist it once. */
  def cached(grid: DataFrame): DataFrame = grid.cache()
}
