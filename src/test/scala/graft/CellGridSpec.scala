package graft

import org.apache.spark.sql.functions._
import graft.model.Frequency
import graft.operators.TimeSeriesOps
import graft.sources.CellGrid

class CellGridSpec extends SparkSpec {
  import spark.implicits._

  /** A tiny workbook: quarterly time labels in A, two series in B/C,
    * headers in row 1, one missing token, one trailing junk row. */
  private def grid = Seq(
    ("data", 1, 1, "indice_tiempo"), ("data", 1, 2, "serie_a"),
    ("data", 1, 3, "serie_b"),
    ("data", 2, 1, "2020-Q1"), ("data", 2, 2, "1.5"), ("data", 2, 3, "10"),
    ("data", 3, 1, "2020-Q2"), ("data", 3, 2, "s.d."), ("data", 3, 3, "20"),
    ("data", 4, 1, "2020-Q3"), ("data", 4, 2, "3.25"), ("data", 4, 3, "30"),
    ("data", 5, 1, "notes:"), ("data", 5, 2, "x"),
  ).toDF("sheet", "row", "col", "value")

  private val series = Seq(
    CellGrid.SeriesSpec("serie_a", "B1", "B2"),
    CellGrid.SeriesSpec("serie_b", "C1", "C2"))

  test("scrapeDistribution extracts aligned long form (S7/T1/J1)") {
    val long = CellGrid.scrapeDistribution(grid, "data", "A1", "A2",
      Frequency.Quarterly, series)
    val rows = long.collect()
      .map(r => (r.getString(0), r.getDate(1).toString, Option(r.get(2))))
      .toSet
    assert(rows == Set(
      ("serie_a", "2020-01-01", Some(1.5)),
      ("serie_a", "2020-04-01", None), // missing token normalized
      ("serie_a", "2020-07-01", Some(3.25)),
      ("serie_b", "2020-01-01", Some(10.0)),
      ("serie_b", "2020-04-01", Some(20.0)),
      ("serie_b", "2020-07-01", Some(30.0))))
    // the junk row 5 ("notes:" unparseable) must be trimmed out
    assert(long.count() == 6)
  }

  test("composed time labels parse: quarter, semester, month, year") {
    val labels = Seq("2020-Q4", "2021 s2", "2021-07", "2019", "2020-02-29",
      "garbage").toDF("v")
    val parsed = labels
      .select(CellGrid.parseTimeLabel(col("v")))
      .collect().map(r => Option(r.get(0)).map(_.toString))
    assert(parsed.toSeq == Seq(Some("2020-10-01"), Some("2021-07-01"),
      Some("2021-07-01"), Some("2019-01-01"), Some("2020-02-29"), None))
  }

  test("multi-cell composed time: year markers + period labels (T1)") {
    // the xlseries time_composed=True layout: year once per block in the
    // time column, roman quarter labels on the data rows
    val composed = Seq(
      ("c", 1, 1, "indice_tiempo"), ("c", 1, 2, "pib"),
      ("c", 2, 1, "2019"),
      ("c", 3, 1, "I"), ("c", 3, 2, "1.0"),
      ("c", 4, 1, "II"), ("c", 4, 2, "2.0"),
      ("c", 5, 1, "III"), ("c", 5, 2, "3.0"),
      ("c", 6, 1, "IV"), ("c", 6, 2, "4.0"),
      ("c", 7, 1, "2020"),
      ("c", 8, 1, "1er trim."), ("c", 8, 2, "5.0"),
      ("c", 9, 1, "Q2"), ("c", 9, 2, "6.0"),
    ).toDF("sheet", "row", "col", "value")
    val long = CellGrid.scrapeDistribution(composed, "c", "A1", "A2",
      Frequency.Quarterly, Seq(CellGrid.SeriesSpec("pib", "B1", "B2")))
    val rows = long.collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2))).toSet
    assert(rows == Set(
      ("2019-01-01", 1.0), ("2019-04-01", 2.0), ("2019-07-01", 3.0),
      ("2019-10-01", 4.0), ("2020-01-01", 5.0), ("2020-04-01", 6.0)))
  }

  test("two-column composed time: year column left of the period column") {
    val composed = Seq(
      ("c2", 1, 1, "anio"), ("c2", 1, 2, "indice_tiempo"), ("c2", 1, 3, "x"),
      ("c2", 2, 1, "2019"), ("c2", 2, 2, "I"), ("c2", 2, 3, "1.0"),
      ("c2", 3, 2, "II"), ("c2", 3, 3, "2.0"),
      ("c2", 4, 1, "2020"), ("c2", 4, 2, "I"), ("c2", 4, 3, "3.0"),
      ("c2", 5, 2, "II"), ("c2", 5, 3, "4.0"),
    ).toDF("sheet", "row", "col", "value")
    val long = CellGrid.scrapeDistribution(composed, "c2", "B1", "B2",
      Frequency.Quarterly, Seq(CellGrid.SeriesSpec("x", "C1", "C2")))
    val rows = long.collect()
      .map(r => (r.getDate(1).toString, r.getDouble(2))).toSet
    assert(rows == Set(
      ("2019-01-01", 1.0), ("2019-04-01", 2.0),
      ("2020-01-01", 3.0), ("2020-04-01", 4.0)))
  }

  test("composed-time fallback: plain single-cell labels still win") {
    // a sheet with ordinary labels must parse identically with the
    // composed machinery active (the reference's TimeIsNotComposed
    // fallback, collapsed into a coalesce)
    val long = CellGrid.scrapeDistribution(grid, "data", "A1", "A2",
      Frequency.Quarterly, series)
    assert(long.filter(col("serie_id") === "serie_b").count() == 3)
    // and semester/month composed labels at their frequencies
    val sem = Seq(("s", 1, 1, "t"), ("s", 2, 1, "2018"),
      ("s", 3, 1, "1er sem"), ("s", 3, 2, "7.0"),
      ("s", 4, 1, "II"), ("s", 4, 2, "8.0"),
      ("s", 5, 1, "Ene"), ("s", 5, 3, "9.0"),
    ).toDF("sheet", "row", "col", "value")
    val sLong = CellGrid.scrapeDistribution(sem, "s", "A1", "A2",
      Frequency.Semester, Seq(CellGrid.SeriesSpec("x", "B1", "B2")))
    assert(sLong.collect().map(r => (r.getDate(1).toString, r.getDouble(2)))
      .toSet == Set(("2018-01-01", 7.0), ("2018-07-01", 8.0)))
    val mLong = CellGrid.scrapeDistribution(sem, "s", "A1", "A2",
      Frequency.Monthly, Seq(CellGrid.SeriesSpec("y", "C1", "C2")))
    assert(mLong.collect().map(r => (r.getDate(1).toString, r.getDouble(2)))
      .toSet == Set(("2018-01-01", 9.0)))
  }

  test("tableBounds flags the trim warning (T2)") {
    val b = CellGrid.tableBoundsAll(grid, Seq(("d", "data", "A2", "Q")))
      .head()
    assert(b.getAs[Int]("detected_end") == 4)
    assert(b.getAs[Int]("table_end") == 5) // junk row -> WARNING in the report
  }

  test("headerDrift catches coordinate drift (validate_distribution_scraping)") {
    val drifted = series :+ CellGrid.SeriesSpec("serie_zz", "D1", "D2")
    val bad = CellGrid.headerDriftAll(grid,
        drifted.map(s => ("d", s.serieId, "data", s.headerCell)))
      .drop("distribution_id").collect()
    assert(bad.map(_.getString(0)).toSet == Set("serie_zz"))
  }

  test("scrapeAll extracts every distribution of a multi-workbook grid in one pass") {
    // two workbooks, unique sheet keys, different shapes
    val multi = Seq(
      ("wb1!data", 1, 1, "indice_tiempo"), ("wb1!data", 1, 2, "a"),
      ("wb1!data", 2, 1, "2020-Q1"), ("wb1!data", 2, 2, "1.5"),
      ("wb1!data", 3, 1, "2020-Q2"), ("wb1!data", 3, 2, "2.5"),
      ("wb2!hoja", 1, 3, "indice_tiempo"), ("wb2!hoja", 1, 4, "b"),
      ("wb2!hoja", 2, 3, "2021-01"), ("wb2!hoja", 2, 4, "10"),
      ("wb2!hoja", 3, 3, "2021-02"), ("wb2!hoja", 3, 4, "s.d."),
    ).toDF("sheet", "row", "col", "value")
    val specs = Seq(
      CellGrid.BatchSeriesSpec("d1", "a", "wb1!data", "B2", "A2", "Q"),
      CellGrid.BatchSeriesSpec("d2", "b", "wb2!hoja", "D2", "C2", "M"))
    val out = CellGrid.scrapeAll(multi, specs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDate(2).toString,
        Option(r.get(3))))
      .toSet
    assert(out == Set(
      ("d1", "a", "2020-01-01", Some(1.5)),
      ("d1", "a", "2020-04-01", Some(2.5)),
      ("d2", "b", "2021-01-01", Some(10.0)),
      ("d2", "b", "2021-02-01", None)))
  }

  test("alignWide pivots long form back to the reference CSV shape (J1)") {
    val long = CellGrid.scrapeDistribution(grid, "data", "A1", "A2",
      Frequency.Quarterly, series)
    val wide = TimeSeriesOps.alignWide(long, series.map(_.serieId))
    assert(wide.columns.toSeq == Seq("indice_tiempo", "serie_a", "serie_b"))
    assert(wide.count() == 3)
    val q2 = wide.filter(col("indice_tiempo") === lit("2020-04-01")).head()
    assert(q2.isNullAt(1) && q2.getDouble(2) == 20.0)
  }
}
