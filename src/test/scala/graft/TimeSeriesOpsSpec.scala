package graft

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.model.Frequency
import graft.operators.{Reports, TimeSeriesOps}

class TimeSeriesOpsSpec extends SparkSpec {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  test("monotonicViolations finds duplicates (T4)") {
    val s = Seq(
      ("a", d("2020-01-01"), 1.0), ("a", d("2020-02-01"), 2.0),
      ("a", d("2020-02-01"), 3.0), // dup
      ("b", d("2020-01-01"), 1.0), ("b", d("2020-04-01"), 2.0))
      .toDF("serie_id", "indice_tiempo", "valor")
    val v = TimeSeriesOps.monotonicViolations(s).collect()
    assert(v.length == 1 && v.head.getAs[String]("serie_id") == "a")
  }

  test("frequencyGaps detects missing periods incl. semester (T3)") {
    val s = Seq(
      ("a", d("2020-01-01")), ("a", d("2020-07-01")), ("a", d("2021-07-01")),
      ("b", d("2020-01-01")), ("b", d("2020-07-01")))
      .toDF("serie_id", "indice_tiempo").withColumn("valor", lit(1.0))
    val gaps = TimeSeriesOps.frequencyGaps(s, Frequency.Semester).collect()
    assert(gaps.length == 1)
    assert(gaps.head.getAs[String]("serie_id") == "a")
    assert(gaps.head.getAs[Double]("step_periods") == 2.0)
  }

  test("validationSummary verdicts (§2.9 battery)") {
    val s = Seq(
      ("ok", d("2020-01-01"), Some(1.0)), ("ok", d("2020-02-01"), Some(2.0)),
      ("dup", d("2020-01-01"), Some(1.0)), ("dup", d("2020-01-01"), Some(2.0)),
      ("holey", d("2020-01-01"), None), ("holey", d("2020-02-01"), None),
      ("holey", d("2020-03-01"), Some(1.0)))
      .toDF("serie_id", "indice_tiempo", "valor")
    val m = TimeSeriesOps.validationSummary(s).collect()
      .map(r => r.getAs[String]("serie_id") -> r).toMap
    assert(m("ok").getAs[Boolean]("is_valid"))
    assert(!m("dup").getAs[Boolean]("is_distinct"))
    assert(!m("dup").getAs[Boolean]("is_valid"))
    assert(m("holey").getAs[Double]("missing_ratio") > 0.5)
    assert(!m("holey").getAs[Boolean]("is_valid"))
  }

  test("distributionVerdicts judges each distribution's time index (§2.9/T3)") {
    import TimeSeriesOps.{DistributionSpec, Verdict}
    val long = Seq(
      // "sparse": b lacks a cell on every other period — no gap
      ("sparse", "a", "2020-01-01", Some(1.0)),
      ("sparse", "a", "2020-02-01", Some(2.0)),
      ("sparse", "a", "2020-03-01", Some(3.0)),
      ("sparse", "b", "2020-01-01", Some(1.0)),
      ("sparse", "b", "2020-03-01", Some(3.0)),
      // "gap": March missing from the index, b mostly empty, c absent
      ("gap", "a", "2020-01-01", Some(1.0)),
      ("gap", "a", "2020-02-01", Some(2.0)),
      ("gap", "a", "2020-04-01", Some(4.0)),
      ("gap", "b", "2020-01-01", None),
      // "dup": a period repeats for one serie
      ("dup", "a", "2020-01-01", Some(1.0)),
      ("dup", "a", "2020-01-01", Some(2.0)),
      // "nullt": a row without a time
      ("nullt", "a", "2020-01-01", Some(1.0)),
      ("nullt", "a", null, None))
      .toDF("distribution_id", "serie_id", "indice_tiempo", "valor")
      .withColumn("indice_tiempo", to_date(col("indice_tiempo")))
    val m = Some(Frequency.Monthly)
    val v = TimeSeriesOps.distributionVerdicts(long, Seq(
      DistributionSpec("sparse", Seq("a", "b"), m),
      DistributionSpec("gap", Seq("a", "b", "c"), m),
      DistributionSpec("dup", Seq("a"), None),
      DistributionSpec("nullt", Seq("a"), m),
      DistributionSpec("absent", Seq("a"), m)))
    assert(v("sparse") == Verdict(3, Seq.empty, Seq.empty))
    assert(v("gap") == Verdict(3,
      Seq("b: missing ratio 1.000 > 0.5", "c: no data scraped"),
      Seq("1 frequency gap(s) vs R/P1M")))
    assert(v("dup") == Verdict(1, Seq("dup: duplicate time index"), Seq.empty))
    assert(v("nullt") == Verdict(1, Seq("nullt: null time index"), Seq.empty))
    assert(v("absent") == Verdict(0, Seq("absent: empty distribution"), Seq.empty))

    // a wide frame without series still stacks one row per period
    val bare = Seq("2020-01-01", "2020-01-01").toDF("t")
      .select(to_date(col("t")).as("indice_tiempo"))
    val stacked = TimeSeriesOps.stackWide(bare, "bare")
    assert(stacked.columns.toSeq ==
      Seq("distribution_id", "serie_id", "indice_tiempo", "valor"))
    assert(TimeSeriesOps.distributionVerdicts(stacked,
        Seq(DistributionSpec("bare", Seq.empty, m)))("bare") ==
      Verdict(1, Seq("bare: duplicate time index"), Seq.empty))
  }

  test("completeCalendar fills gaps at declared frequency") {
    val s = Seq(("a", d("2020-01-01"), 1.0), ("a", d("2020-04-01"), 2.0))
      .toDF("serie_id", "indice_tiempo", "valor")
    val cal = TimeSeriesOps.completeCalendar(s, Frequency.Monthly)
    assert(cal.count() == 4)
    assert(cal.filter(col("valor").isNull).count() == 2)
  }

  test("indicators + success percentage (A1-A3) incl. zero division") {
    val ds = Seq("OK", "OK", "ERROR").toDF("dataset_status")
    val dist = Seq("OK", "ERROR", "WARNING", "OK").toDF("distribution_status")
    val ind = Reports.indicators(ds, dist).head()
    assert(ind.getAs[Long]("datasets") == 3)
    assert(ind.getAs[Long]("datasets_ok") == 2)
    assert(ind.getAs[Long]("distributions_error") == 1)
    assert(ind.getAs[Double]("distributions_percentage") == 50.0)
    val empty = spark.emptyDataFrame
      .withColumn("distribution_status", lit("OK"))
      .filter(lit(false))
    val zero = Reports.indicators(
      Seq.empty[String].toDF("dataset_status"), empty).head()
    assert(zero.getAs[Double]("distributions_percentage") == 0.0)
  }

  test("statusRank orders ERROR < WARNING < OK (O1)") {
    val sorted = Reports.sortByStatus(
      Seq("OK", "ERROR", "WARNING").toDF("distribution_status"))
      .collect().map(_.getString(0))
    assert(sorted.toSeq == Seq("ERROR", "WARNING", "OK"))
  }

  test("asofJoin: <= semantics, per-key isolation, null before first mark") {
    val left = Seq(
      ("a", 5L, 100L), ("a", 10L, 101L), ("a", 15L, 102L),
      ("a", 20L, 103L), ("b", 10L, 200L))
      .toDF("k", "t", "rowid")
    val right = Seq(
      ("a", 10L, 1.5), ("a", 18L, 2.5), ("b", 99L, 9.9))
      .toDF("k", "t", "mark")
    val got = TimeSeriesOps.asofJoin(left, right, Seq("k"), "t",
        Seq("mark"))
      .select("rowid", "asof_mark").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(100L).isEmpty)          // before any mark
    assert(got(101L).contains(1.5))    // equal timestamp counts (<=)
    assert(got(102L).contains(1.5))    // between marks: latest prior
    assert(got(103L).contains(2.5))
    assert(got(200L).isEmpty)          // other key's marks invisible
  }

  test("asofJoinNative: plans AsOfJoinExec (no union/window) and matches the composed form") {
    val left = Seq(
      ("a", 5L, 100L), ("a", 10L, 101L), ("a", 15L, 102L),
      ("a", 20L, 103L), ("b", 10L, 200L), ("c", 1L, 300L))
      .toDF("k", "t", "rowid")
    val right = Seq(
      ("a", 10L, 1.5), ("a", 18L, 2.5), ("b", 99L, 9.9), ("d", 1L, 4.4))
      .toDF("k", "t", "mark")
    val native = TimeSeriesOps.asofJoinNative(left, right, Seq("k"), "t",
      Seq("mark"))
    val p = native.queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), s"native exec not planned:\n$p")
    assert(!p.contains("Window") && !p.contains("Union"),
      s"composed shape leaked into native plan:\n$p")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("rowid", "asof_mark").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val composed = TimeSeriesOps.asofJoin(left, right, Seq("k"), "t",
      Seq("mark"))
    assert(norm(native) == norm(composed), norm(native).toString)
  }

  test("asofJoinNative: randomized parity with the composed form") {
    val rnd = new scala.util.Random(7)
    val keys = Seq("k1", "k2", "k3")
    val left = (1 to 400).map(i =>
      (keys(rnd.nextInt(3)), rnd.nextInt(50).toLong, i.toLong))
      .toDF("k", "t", "rowid")
    // unique (k, t) on the right, as the contract requires
    val right = rnd.shuffle((0 until 50).toList).take(30).flatMap(t =>
      keys.filter(_ => rnd.nextBoolean()).map(k =>
        (k, t.toLong, rnd.nextDouble())))
      .toDF("k", "t", "mark")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("rowid", "asof_mark").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    val native = norm(TimeSeriesOps.asofJoinNative(left, right, Seq("k"),
      "t", Seq("mark")))
    val composed = norm(TimeSeriesOps.asofJoin(left, right, Seq("k"),
      "t", Seq("mark")))
    assert(native == composed)
    assert(native.size == 400)
  }

  test("resample collapses monthly to quarterly/semester with avg|sum|last") {
    val s = Seq(
      ("a", d("2020-01-01"), 1.0), ("a", d("2020-02-01"), 2.0),
      ("a", d("2020-03-01"), 6.0), ("a", d("2020-04-01"), 10.0))
      .toDF("serie_id", "indice_tiempo", "valor")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getDate(1).toString ->
        (r.getDouble(2), r.getLong(3))).toMap
    val avg = m(TimeSeriesOps.resample(s, Frequency.Quarterly, "avg")
      .select("serie_id", "period", "valor", "n_points"))
    assert(avg == Map("2020-01-01" -> ((3.0, 3L)),
      "2020-04-01" -> ((10.0, 1L))))
    val last = m(TimeSeriesOps.resample(s, Frequency.Quarterly, "last")
      .select("serie_id", "period", "valor", "n_points"))
    assert(last("2020-01-01")._1 == 6.0)
    val sem = m(TimeSeriesOps.resample(s, Frequency.Semester, "sum")
      .select("serie_id", "period", "valor", "n_points"))
    assert(sem == Map("2020-01-01" -> ((19.0, 4L))))
  }

  test("forwardFill repairs nulls from the latest prior non-null per key") {
    val s = Seq(
      ("a", d("2020-01-01"), Some(1.0)), ("a", d("2020-02-01"), None),
      ("a", d("2020-03-01"), None), ("a", d("2020-04-01"), Some(4.0)),
      ("b", d("2020-01-01"), None)) // leading null stays null
      .toDF("serie_id", "indice_tiempo", "valor")
    val got = TimeSeriesOps.forwardFill(s).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(("a", "2020-02-01")).contains(1.0))
    assert(got(("a", "2020-03-01")).contains(1.0))
    assert(got(("a", "2020-04-01")).contains(4.0))
    assert(got(("b", "2020-01-01")).isEmpty)
  }

  test("pctChange: null at series start, div-by-zero-safe") {
    val s = Seq(
      ("a", d("2020-01-01"), 2.0), ("a", d("2020-02-01"), 3.0),
      ("a", d("2020-03-01"), 0.0), ("a", d("2020-04-01"), 5.0))
      .toDF("serie_id", "indice_tiempo", "valor")
    val got = TimeSeriesOps.pctChange(s).collect()
      .map(r => r.getDate(1).toString ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got("2020-01-01").isEmpty)        // no prior period
    assert(got("2020-02-01").contains(0.5))
    assert(got("2020-03-01").contains(-1.0))
    assert(got("2020-04-01").isEmpty)        // prev = 0 -> null, not Inf
  }

  test("rollingStats: exact-cents mean over a k-row frame") {
    val s = (1 to 6).map(i => ("a", d(f"2020-0$i-01"), i * 1.0))
      .toDF("serie_id", "indice_tiempo", "valor")
    val got = TimeSeriesOps.rollingStats(s, k = 3).collect()
      .map(r => r.getDate(1).toString ->
        ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
      .toMap
    // (n_window, roll_avg, roll_min, roll_max)
    assert(got("2020-01-01") == ((1L, 1.0, 1.0, 1.0)))
    assert(got("2020-02-01") == ((2L, 1.5, 1.0, 2.0)))
    assert(got("2020-06-01") == ((3L, 5.0, 4.0, 6.0)))
  }

  test("interpolate: straight line through neighbours, edges stay null") {
    // integer time index, non-uniform spacing, a 2-null run, and a
    // leading + trailing null that must survive as nulls
    val s = Seq(
      ("a", 0L, None), ("a", 10L, Some(1.0)), ("a", 20L, None),
      ("a", 40L, Some(4.0)), ("a", 50L, None), ("a", 60L, None),
      ("a", 70L, Some(1.0)), ("a", 80L, None),
      ("b", 0L, Some(9.0)))
      .toDF("serie_id", "indice_tiempo", "valor")
    val got = TimeSeriesOps.interpolate(s).collect()
      .map(r => (r.getAs[String]("serie_id"), r.getLong(1)) ->
        Option(r.getAs[java.lang.Double]("valor_interp")).map(_.toDouble))
      .toMap
    assert(got(("a", 0L)).isEmpty, "leading null must stay null")
    assert(got(("a", 80L)).isEmpty, "trailing null must stay null")
    assert(got(("a", 10L)).contains(1.0), "observed values pass through")
    // 20 is 1/3 of the way from (10, 1.0) to (40, 4.0)
    assert(got(("a", 20L)).contains(2.0), got(("a", 20L)))
    // consecutive nulls interpolate against the same bracket (40,4)-(70,1)
    assert(got(("a", 50L)).contains(3.0), got(("a", 50L)))
    assert(got(("a", 60L)).contains(2.0), got(("a", 60L)))
    assert(got(("b", 0L)).contains(9.0), "singleton series untouched")
  }

  test("rollingAnomaly: spike flags against its predecessors only") {
    // alternating 10/12 baseline, then a spike to 100: the predecessor
    // frame excludes the spike so its z is huge; a flat predecessor
    // window (series b) flags any deviation with a null zscore
    val s = (Seq(("a", 1L, 10.0), ("a", 2L, 12.0), ("a", 3L, 10.0),
      ("a", 4L, 12.0), ("a", 5L, 10.0), ("a", 6L, 12.0), ("a", 7L, 100.0)) ++
      Seq(("b", 1L, 5.0), ("b", 2L, 5.0), ("b", 3L, 5.0), ("b", 4L, 5.0),
        ("b", 5L, 9.0)))
      .toDF("serie_id", "indice_tiempo", "valor")
    val got = TimeSeriesOps.rollingAnomaly(s, k = 4, kSigma = 2, minObs = 3)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getBoolean(r.fieldIndex("anomaly")),
          Option(r.getAs[java.lang.Double]("zscore"))))).toMap
    assert(!got(("a", 2L))._1 && got(("a", 2L))._2.isEmpty,
      "n < minObs must not flag")
    assert(!got(("a", 6L))._1, "baseline point must not flag")
    assert(got(("a", 7L))._1, "spike must flag")
    // predecessors of the spike are (12,10,12,10) cents: dev=35600,
    // varn=160000 -> z = 35600/400 = 89
    assert(got(("a", 7L))._2.contains(89.0), got(("a", 7L)))
    assert(got(("b", 5L))._1 && got(("b", 5L))._2.isEmpty,
      "zero-variance predecessors: any deviation flags, zscore null")
  }

  test("seasonalDecompose: reconstruction, edge nulls, periodic seasonal") {
    // 3 years of monthly data: linear trend + a month-of-year bump
    val rows = for (y <- 2018 to 2020; m <- 1 to 12) yield {
      val i = (y - 2018) * 12 + m - 1
      val bump = if (m == 12) 24.0 else if (m == 6) -12.0 else 0.0
      ("a", d(f"$y-$m%02d-01"), 100.0 + i + bump)
    }
    val out = TimeSeriesOps.seasonalDecompose(rows.toDF(
      "serie_id", "indice_tiempo", "valor"), period = 12).collect()
      .map(r => r.getAs[java.sql.Date]("indice_tiempo").toString -> r).toMap
    // first/last 6 months have no centered window -> null trend/residual
    assert(out("2018-01-01").isNullAt(out("2018-01-01").fieldIndex("trend")))
    assert(out("2020-12-01").isNullAt(out("2020-12-01").fieldIndex("trend")))
    val interior = out.values
      .filter(r => !r.isNullAt(r.fieldIndex("trend"))).toSeq
    assert(interior.size == 24, s"${interior.size} interior rows")
    for (r <- interior) {
      val v = r.getAs[Double]("valor")
      val sum = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(v - sum) < 1e-4,
        s"$v != $sum at ${r.getAs[java.sql.Date]("indice_tiempo")}")
    }
    // the December bump shows up in December's seasonal, same both years
    val dec = Seq("2018-12-01", "2019-12-01").map(k =>
      out(k).getAs[Double]("seasonal"))
    assert(dec.distinct.size == 1, s"seasonal not periodic: $dec")
    assert(dec.head > 15.0, s"december seasonal too small: ${dec.head}")
    val mar = out("2019-03-01").getAs[Double]("seasonal")
    assert(math.abs(mar) < 5.0, s"flat month seasonal drifted: $mar")
  }

  test("linearTrend: exact fit recovered, noise averaged, degenerate null") {
    import spark.implicits._
    // g1: y = 3x + 7 exactly; g2: symmetric noise around y = 10
    // (slope 0); g3: one x -> degenerate
    val rows = (0L to 9L).map(x => ("g1", 100L + x, 3 * (100L + x) + 7)) ++
      Seq(("g2", 0L, 8L), ("g2", 1L, 12L), ("g2", 2L, 8L), ("g2", 3L, 12L)) ++
      Seq(("g3", 5L, 42L), ("g3", 5L, 44L))
    val got = TimeSeriesOps.linearTrend(rows.toDF("g", "x", "y"),
        "g", "x", "y")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), Option(r.getAs[java.lang.Double]("slope")),
          Option(r.getAs[java.lang.Double]("intercept")))).toMap
    // x re-based to min: y = 3(x+100)+7 = 3x' + 307 at x' = x - 100
    assert(got("g1") == ((10L, Some(3.0), Some(307.0))), got("g1"))
    assert(got("g2")._2.exists(s => math.abs(s) < 1.5), got("g2"))
    assert(got("g3") == ((2L, None, None)), got("g3"))
  }

  test("cusumChangepoint: level shift peaks at the last pre-shift point") {
    import spark.implicits._
    // flat 100 cents for x 1..5, then 200 for x 6..10: |S| peaks at x=5
    val rows = (1L to 10L).map(x => ("g", x, if (x <= 5) 100L else 200L))
    val r = TimeSeriesOps.cusumChangepoint(rows.toDF("g", "x", "y"),
        "g", "x", "y").collect().head
    assert(r.getLong(1) == 10L)            // n
    assert(r.getLong(2) == 5L, s"cp at ${r.getLong(2)}") // cp_x
    // S_5 = 10*500 - 5*1500 = -2500 -> shift 2500/(10*100) = 2.5
    assert(r.getLong(3) == 2500L)
    assert(r.getDouble(4) == 2.5)
    // a constant series never leaves zero: s_abs = 0, cp at first x
    val flat = (1L to 4L).map(x => ("g", x, 7L))
    val f = TimeSeriesOps.cusumChangepoint(flat.toDF("g", "x", "y"),
        "g", "x", "y").collect().head
    assert(f.getLong(3) == 0L && f.getLong(2) == 1L)
  }

  test("pointInIntervalJoin: half-open matches across bucket boundaries, no nested loop") {
    import org.apache.spark.sql.functions.timestamp_micros
    val hourUs = 3600L * 1000000L
    // points every 10 min for 6 h
    val pts = (0L until 36L).map(i => (i, i * 600L * 1000000L))
      .toDF("pid", "us")
      .select(col("pid"), timestamp_micros(col("us")).as("ts"))
    // window A [0:30, 1:30) spans a bucket boundary; B [2:00, 3:00)
    // ends EXACTLY on one — its end bucket must not be probed
    val ivs = Seq(
      ("A", 1800L * 1000000L, 5400L * 1000000L),
      ("B", 7200L * 1000000L, 10800L * 1000000L))
      .toDF("win", "s_us", "e_us")
      .select(col("win"), timestamp_micros(col("s_us")).as("start_ts"),
        timestamp_micros(col("e_us")).as("end_ts"))
    val out = TimeSeriesOps.pointInIntervalJoin(pts, "ts", ivs,
        "start_ts", "end_ts", bucketUs = hourUs)
    val got = out.collect()
      .map(r => r.getAs[String]("iv_win") -> r.getLong(0))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    // A: minutes [30, 90) -> points 3..8; B: [120, 180) -> 12..17
    assert(got("A") == (3L to 8L).toSet, got("A").toSeq.sorted)
    assert(got("B") == (12L to 17L).toSet, got("B").toSeq.sorted)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"),
      s"interval join fell back to a nested loop:\n$plan")
  }

  test("pointInIntervalJoin: an inverted interval is discarded BEFORE the explode") {
    import org.apache.spark.sql.functions.timestamp_micros
    val hourUs = 3600L * 1000000L
    val pts = Seq((1L, 1800L * 1000000L)).toDF("pid", "us")
      .select(col("pid"), timestamp_micros(col("us")).as("ts"))
    // C is corrupt: end < start by ~8 years. Unfiltered, sequence(hi,
    // lo) would default to step -1 and materialize ~70k descending
    // hour buckets for this one row; the guard must drop it instead.
    val ivs = Seq(
      ("A", 0L, hourUs),
      ("C", 250000L * hourUs, 0L))
      .toDF("win", "s_us", "e_us")
      .select(col("win"), timestamp_micros(col("s_us")).as("start_ts"),
        timestamp_micros(col("e_us")).as("end_ts"))
    val out = TimeSeriesOps.pointInIntervalJoin(pts, "ts", ivs,
        "start_ts", "end_ts", bucketUs = hourUs)
    val got = out.collect().map(_.getAs[String]("iv_win")).toSeq
    assert(got == Seq("A"), got)
  }

  test("intervalOverlapJoin: pair set equals brute force, each pair once") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val hourUs = 3600000000L
    def mk(n: Int, tag: String) = (1 to n).map { i =>
      val s = rng.nextInt(200).toLong * hourUs / 4      // quarter-hour grid
      val len = (1 + rng.nextInt(16)).toLong * hourUs / 2 // 0.5h..8h
      (s"$tag$i", s, s + len)
    }.toDF("wid", "s_us", "e_us")
      .select(col("wid"), timestamp_micros(col("s_us")).as("ws"),
        timestamp_micros(col("e_us")).as("we"))
    val l = mk(60, "L")
    val r = mk(60, "R")
    val got = TimeSeriesOps.intervalOverlapJoin(l, r, "ws", "we",
        bucketUs = hourUs)
      .select(col("l_wid"), col("r_wid")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    val brute = l.crossJoin(
        r.select(col("wid").as("rwid"), col("ws").as("rws"),
          col("we").as("rwe")))
      .filter(col("ws") < col("rwe") && col("rws") < col("we"))
      .select(col("wid"), col("rwid")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSeq
    assert(got.size == got.distinct.size, "pair emitted more than once")
    assert(got.toSet == brute.toSet,
      s"missing=${brute.toSet -- got.toSet} extra=${got.toSet -- brute.toSet}")
  }

  test("intervalOverlapCounts: per-interval counts equal the pair join, " +
      "zero-overlap rows included, boundary ties excluded") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val hourUs = 3600000000L
    def mk(n: Int, tag: String) = (1 to n).map { i =>
      val s = rng.nextInt(200).toLong * hourUs / 4
      val len = (1 + rng.nextInt(16)).toLong * hourUs / 2
      (s"$tag$i", s, s + len)
    }.toDF("wid", "s_us", "e_us")
      .select(col("wid"), timestamp_micros(col("s_us")).as("ws"),
        timestamp_micros(col("e_us")).as("we"))
    // quarter-hour grid + half-hour lengths make boundary ties
    // (a.we == b.ws) common — exactly the rank tie-handling under test
    val l = mk(50, "L")
    val r = mk(50, "R")
    val got = TimeSeriesOps.intervalOverlapCounts(l, r, "wid", "ws", "we",
        bucketUs = hourUs)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val brute = l.crossJoin(
        r.select(col("ws").as("rws"), col("we").as("rwe")))
      .filter(col("ws") < col("rwe") && col("rws") < col("we"))
      .groupBy(col("wid")).agg(count(lit(1)).as("n"))
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(got.size == 50, s"every left interval must get a row: ${got.size}")
    l.select(col("wid")).collect().map(_.getString(0)).foreach { id =>
      assert(got(id) == brute.getOrElse(id, 0L),
        s"$id: got=${got(id)} brute=${brute.getOrElse(id, 0L)}")
    }
    assert(got.values.exists(_ == 0L) || brute.size == 50,
      "corpus should exercise the zero-overlap path")
  }

  test("intervalOverlapJoin: shared keys partition the match space") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
      .toEpochMilli * 1000L
    def ts(h: Long) = timestamp_micros(lit(base + h * 3600000000L))
    val l = Seq(("g1", "a"), ("g2", "b")).toDF("grp", "wid")
      .select(col("grp"), col("wid"), ts(0).as("ws"), ts(10).as("we"))
    val r = Seq(("g1", "x"), ("g2", "y")).toDF("grp", "wid")
      .select(col("grp"), col("wid"), ts(5).as("ws"), ts(15).as("we"))
    val got = TimeSeriesOps.intervalOverlapJoin(l, r, "ws", "we",
        bucketUs = 3600000000L * 24, keys = Seq("grp"))
      .select(col("l_wid"), col("r_wid")).collect()
      .map(x => (x.getString(0), x.getString(1))).toSet
    // same-group overlaps only: (a,x) and (b,y), never (a,y)/(b,x)
    assert(got == Set(("a", "x"), ("b", "y")), got)
  }
}
