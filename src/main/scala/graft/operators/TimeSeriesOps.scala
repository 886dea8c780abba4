package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Frequency

/** Time-series operators (SURVEY §2.8 T1-T4 and §2.9 validation battery).
  *
  * All checks are phrased as *violation queries* over the long-form
  * series table `(…, serie_id, indice_tiempo, valor)` — they return rows
  * describing what's wrong instead of throwing, so one bad series never
  * fails the job (per-distribution fault isolation, SURVEY §2.10). At
  * 100 TB the windows partition by series key, so every check is one
  * shuffle-by-key (or zero when the table is already laid out by key).
  */
object TimeSeriesOps {

  private def w(keys: Seq[String]) =
    Window.partitionBy(keys.map(col): _*).orderBy(col("indice_tiempo"))

  /** T4 — monotonic/distinct index violations: per key, any period that
    * is <= its predecessor (duplicates and out-of-order rows). */
  def monotonicViolations(series: DataFrame,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    val prev = lag(col("indice_tiempo"), 1).over(w(keys))
    series
      .withColumn("prev_tiempo", prev)
      .filter(col("prev_tiempo").isNotNull &&
        col("indice_tiempo") <= col("prev_tiempo"))
  }

  /** T3 — frequency conformance: per key, adjacent periods must differ by
    * exactly one declared period. Returns gap rows with the observed gap
    * size in periods. Months-based frequencies compare months_between;
    * daily compares datediff. */
  def frequencyGaps(series: DataFrame, freq: Frequency,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    val prev = lag(col("indice_tiempo"), 1).over(w(keys))
    val step: Column = freq.months match {
      case Some(m) => months_between(col("indice_tiempo"), col("prev_tiempo")) / m
      case None    => datediff(col("indice_tiempo"), col("prev_tiempo")).cast("double")
    }
    series
      .withColumn("prev_tiempo", prev)
      .withColumn("step_periods", step)
      .filter(col("prev_tiempo").isNotNull && col("step_periods") =!= 1.0)
  }

  /** §2.9 battery — one pass over the long table producing a per-series
    * summary with every validation verdict (non-empty, numeric values,
    * distinct monotonic index, missing-data ratio). Single groupBy: one
    * shuffle for the whole battery. */
  def validationSummary(series: DataFrame,
      keys: Seq[String] = Seq("serie_id"),
      maxMissingRatio: Double = 0.5): DataFrame = {
    val prevOk = lag(col("indice_tiempo"), 1).over(w(keys))
    series
      .withColumn("prev_tiempo", prevOk)
      .withColumn("not_increasing",
        when(col("prev_tiempo").isNotNull &&
          col("indice_tiempo") <= col("prev_tiempo"), 1L).otherwise(0L))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("valor")).as("n_values"),
        sum(col("not_increasing")).as("n_not_increasing"),
        countDistinct(col("indice_tiempo")).as("n_periods"),
        min(col("indice_tiempo")).as("first_period"),
        max(col("indice_tiempo")).as("last_period"))
      .withColumn("missing_ratio",
        round(lit(1.0) - col("n_values") / col("n_rows"), 6))
      .withColumn("is_monotonic", col("n_not_increasing") === 0)
      .withColumn("is_distinct", col("n_periods") === col("n_rows"))
      .withColumn("is_valid",
        col("n_rows") > 0 && col("is_monotonic") && col("is_distinct") &&
          col("missing_ratio") <= maxMissingRatio)
  }

  /** One distribution for [[distributionVerdicts]]: its declared series
    * and, when declared, its frequency. */
  final case class DistributionSpec(distributionId: String,
      series: Seq[String], freq: Option[Frequency])

  /** Verdict on one distribution: its period count (the wide row
    * count), hard violations (ERROR, no write) and soft ones (WARNING,
    * file still written) — the reference's split, base.py:165-207. */
  final case class Verdict(periods: Long, errors: Seq[String],
      warnings: Seq[String])

  /** A declared serie missing more than this share of its
    * distribution's periods is an error (the reference's 0.5). */
  private val MaxMissingRatio = 0.5

  /** §2.9 + T3 — the ETL validation battery for MANY distributions at
    * once over the long form `(distribution_id, serie_id, indice_tiempo,
    * valor)`. Time checks judge each distribution's distinct time index
    * (the reference's `validate_distribution`, SURVEY T3): null or
    * duplicate times and empty distributions are errors, steps off the
    * declared frequency are warnings — an empty cell is not a gap. A
    * declared serie with no rows, or missing more than half of the
    * periods, is an error. One collect, however many distributions. */
  def distributionVerdicts(long: DataFrame,
      specs: Seq[DistributionSpec]): Map[String, Verdict] = {
    val spark = long.sparkSession
    import spark.implicits._
    val d = col("distribution_id")
    val t = col("indice_tiempo")
    // months per period, 0 for daily, null when no frequency is declared
    val freqs = specs.map(s => (s.distributionId,
        s.freq.map(_.months.getOrElse(0))))
      .toDF("distribution_id", "freq_months")
    val prev = col("prev")
    val step = when(col("freq_months") > 0,
        months_between(t, prev) / col("freq_months"))
      .otherwise(datediff(t, prev).cast("double"))
    // cells of one period sort together, so a cell opens a new period
    // when its time differs from the previous cell's
    val newPeriod = t.isNotNull && (prev.isNull || t =!= prev)
    // ONE aggregation to a row per (distribution, period, serie), then
    // a straight line of windows and one aggregate per distribution: no
    // branch of the plan reads the long form a second time
    val rows = long
      .groupBy(d, t, col("serie_id"))
      .agg(count(lit(1)).as("rows"), count(col("valor")).as("n_values"))
      .join(broadcast(freqs), Seq("distribution_id"))
      .withColumn("prev", lag(t, 1).over(Window.partitionBy(d).orderBy(t)))
      .withColumn("serie_values",
        sum(col("n_values")).over(Window.partitionBy(d, col("serie_id"))))
      .groupBy(d)
      .agg(
        count(when(newPeriod, 1)).as("periods"),
        count(when(t.isNull, 1)).as("null_times"),
        // a serie with two rows for one period: a duplicate time (the
        // serie-less rows of a frame with no series count as one serie)
        count(when(col("rows") > 1, 1)).as("duplicate_times"),
        count(when(newPeriod && col("freq_months").isNotNull &&
          prev.isNotNull && step =!= 1.0, 1)).as("gaps"),
        collect_set(struct(col("serie_id"), col("serie_values")))
          .as("values"))
      .collect()
      .map(r => r.getAs[String]("distribution_id") -> r).toMap

    specs.map { s =>
      val id = s.distributionId
      val row = rows.get(id)
      val periods = row.fold(0L)(_.getAs[Long]("periods"))
      val errors =
        if (periods == 0) Seq(s"$id: empty distribution")
        else {
          val r = row.get
          val values = r.getAs[Seq[Row]]("values")
            .map(v => v.getString(0) -> v.getLong(1)).toMap
          Seq("null time index" -> r.getAs[Long]("null_times"),
              "duplicate time index" -> r.getAs[Long]("duplicate_times"))
            .collect { case (e, n) if n > 0 => s"$id: $e" } ++
          s.series.flatMap { serie =>
            values.get(serie) match {
              case None => Some(s"$serie: no data scraped")
              case Some(n) =>
                val miss = 1.0 - n.toDouble / periods
                if (miss > MaxMissingRatio)
                  Some(f"$serie: missing ratio $miss%.3f > $MaxMissingRatio")
                else None
            }
          }
        }
      val gaps = row.fold(0L)(_.getAs[Long]("gaps"))
      id -> Verdict(periods, errors,
        if (gaps > 0)
          Seq(s"$gaps frequency gap(s) vs ${s.freq.map(_.iso).getOrElse("")}")
        else Seq.empty)
    }.toMap
  }

  /** Wide frame of ONE distribution → the long form of
    * [[distributionVerdicts]]: one row per (period, serie), all-null
    * rows kept, so a wide row with no values still counts as a period. */
  def stackWide(wide: DataFrame, distributionId: String): DataFrame = {
    val series = wide.columns.filter(_ != "indice_tiempo").toSeq
    val cell =
      if (series.isEmpty) lit(null)
        .cast("struct<serie_id:string,valor:double>")
      else explode(array(series.map(c =>
        struct(lit(c).as("serie_id"), col(c).as("valor"))): _*))
    wide.select(lit(distributionId).as("distribution_id"),
        cell.as("cell"), col("indice_tiempo"))
      .select(col("distribution_id"), col("cell.serie_id").as("serie_id"),
        col("indice_tiempo"), col("cell.valor").as("valor"))
  }

  /** J1 — align series of one distribution on the time index: long form
    * -> wide frame, one column per serie (the reference's pd.concat
    * axis=1 outer-join, processors.py:139-140). `values` pins the pivot
    * columns so the plan needs no extra distinct-collect job. */
  def alignWide(series: DataFrame, serieIds: Seq[String],
      ordered: Boolean = true): DataFrame = {
    val wide = series.groupBy(col("indice_tiempo"))
      .pivot("serie_id", serieIds)
      .agg(first(col("valor")))
    // `ordered = false` lets single-file sinks sort within the coalesced
    // partition instead of paying a range-sampling job + shuffle
    if (ordered) wide.orderBy(col("indice_tiempo")) else wide
  }

  /** Batch sessionization: assign events to sessions per key using a
    * gap threshold — the classic lag + conditional-flag + running-sum
    * window composition, then one aggregate per (key, session). Two
    * stages over data partitioned by the same key: a single shuffle.
    * (The incremental form is EventStream.sessionize.) */
  def sessionize(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, gapMicros: Long): DataFrame = {
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("us"))
    val run = byKey.rowsBetween(Window.unboundedPreceding, 0)
    events
      .withColumn("us", unix_micros(col(tsCol)))
      .withColumn("prev_us", lag(col("us"), 1).over(byKey))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_idx", sum(col("new_session")).over(run))
      .groupBy(col(keyCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
  }

  /** Complete-calendar view: left-join the observed series onto the full
    * calendar generated from min..max at the declared frequency —
    * `sequence()` does the generation inside codegen; missing periods
    * surface as null `valor` (used for gap repair / resampling). */
  def completeCalendar(series: DataFrame, freq: Frequency,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    val bounds = series.groupBy(keys.map(col): _*)
      .agg(min(col("indice_tiempo")).as("lo"), max(col("indice_tiempo")).as("hi"))
    val calendar = bounds.select(
      keys.map(col) :+
        explode(expr(s"sequence(lo, hi, ${freq.intervalExpr})")).as("indice_tiempo"): _*)
    calendar.join(series, keys :+ "indice_tiempo", "left")
  }

  /** AS-OF JOIN — for every left row, the most recent right row with
    * `right.time <= left.time` per key (the canonical time-series
    * alignment Spark has no native operator for: sensor readings vs
    * reference marks, trades vs quotes, observations vs revisions).
    *
    * Spark-first shape: NOT a range join (which Catalyst plans as a
    * broadcast-nested-loop or an exploded equi-range — both blow up on
    * dense series). Instead the classic union trick: tag both sides,
    * union them, and take `last(value, ignoreNulls)` over a window
    * ordered by (time, side) with the right side sorting FIRST at equal
    * timestamps (so a same-instant right row is visible — `<=`
    * semantics). ONE shuffle (the window's partition by key), zero join
    * nodes in the plan (asserted in PlanSpec), and at 100 TB it scales
    * as a sort within each key partition.
    *
    * `right` must be unique per (keys, timeCol) — pre-aggregate if not
    * (otherwise which same-instant row wins is not well defined, in any
    * engine). Left columns pass through; each `rightCols` entry arrives
    * as `asof_<name>` (null until the first right row). */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, rightCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    val l = left.withColumn("_side", lit(1))
      .select(keys.map(col) ++ Seq(col(timeCol), col("_side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol).map(col) ++
        rightCols.map(c => lit(null).cast(
          right.schema(c).dataType).as(s"asof_$c")): _*)
    val r = right.withColumn("_side", lit(0))
      .select(keys.map(col) ++ Seq(col(timeCol), col("_side")) ++
        leftCols.filterNot(c => keys.contains(c) || c == timeCol)
          .map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        rightCols.map(c => col(c).as(s"asof_$c")): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rightCols.foldLeft(l.unionByName(r)) { (df, c) =>
      df.withColumn(s"asof_$c",
        last(col(s"asof_$c"), ignoreNulls = true).over(w))
    }
    filled.filter(col("_side") === 1).drop("_side")
  }

  /** Native-operator form of [[asofJoin]]: the custom
    * [[graft.plans.AsOfJoin]] logical node planned by
    * [[graft.plans.AsOfJoinStrategy]] into a single forward merge pass
    * per co-partitioned sorted partition — no union of the sides, no
    * per-payload window state. Same contract and column naming as the
    * composed form (parity asserted in the test suite); same
    * uniqueness requirement on right (keys, timeCol). */
  def asofJoinNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      timeCol: String, rightCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val spark = left.sparkSession
    graft.GraftExtensions.registerPlanner(spark)
    PlanBridge.ofRows(spark, graft.plans.AsOfJoin(
      PlanBridge.analyzed(left), PlanBridge.analyzed(right),
      keys, timeCol, rightCols))
  }

  /** Resample (collapse) a series to a coarser declared frequency:
    * group periods into their containing target period and aggregate.
    * `how` ∈ avg | sum | last (last = value at the latest source period
    * via max_by — deterministic because T4 guarantees distinct
    * periods). One partial-aggregatable groupBy — a single shuffle on
    * (key, period), no window. */
  def resample(series: DataFrame, target: Frequency, how: String,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    val t = col("indice_tiempo")
    val period: Column = target match {
      case Frequency.Annual    => trunc(t, "year")
      case Frequency.Quarterly => trunc(t, "quarter")
      case Frequency.Monthly   => trunc(t, "month")
      // no trunc unit for semesters: snap month to 1 or 7
      case Frequency.Semester =>
        make_date(year(t), when(month(t) <= 6, 1).otherwise(7), lit(1))
      case Frequency.Daily => t
    }
    val agg: Column = how match {
      case "avg"  => round(avg(col("valor")), 4)
      case "sum"  => round(sum(col("valor")), 2)
      case "last" => max_by(col("valor"), col("indice_tiempo"))
      case other  => throw new IllegalArgumentException(
        s"resample how=$other (want avg|sum|last)")
    }
    series
      .withColumn("period", period)
      .groupBy(keys.map(col) :+ col("period"): _*)
      .agg(agg.as("valor"), count(lit(1)).as("n_points"))
  }

  /** Forward fill: null `valor` takes the latest preceding non-null
    * value per key — gap repair after [[completeCalendar]], and the
    * standard panel-data imputation. `last(ignoreNulls)` over the
    * running window; `tieCols` break equal-period order so the fill is
    * deterministic. One shuffle. */
  def forwardFill(series: DataFrame, keys: Seq[String] = Seq("serie_id"),
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("indice_tiempo") +: tieCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    series.withColumn("valor_filled",
      last(col("valor"), ignoreNulls = true).over(w))
  }

  /** Additive seasonal decomposition (classical moving-average method,
    * the STL-lite every stats package ships): `valor = trend + seasonal
    * + residual` for monthly series.
    *
    *  - `trend`: centered moving average over `period + 1` observations
    *    (±period/2), defined only where the full window exists;
    *  - `seasonal`: per (key, month-of-year) mean of the detrended
    *    series;
    *  - `residual`: what's left.
    *
    * FP determinism: valor is held as exact integer cents, the centered
    * sum is an exact integer, and the detrended value is scaled by
    * `(period+1)·100` to the exact integer `(period+1)·cents − Σcents`
    * before the seasonal mean — so both FP numbers (seasonal mean,
    * residual) are
    * single fixed-shape double expressions over exact integers that any
    * IEEE-754 engine reproduces. Two shuffles: one window by key, one
    * groupBy (key, month); both partial-aggregatable. */
  def seasonalDecompose(series: DataFrame, period: Int = 12,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    require(period % 2 == 0, "period must be even (centered window)")
    val half = period / 2
    val win = period + 1
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("indice_tiempo")).rowsBetween(-half, half)
    val centered = series
      .withColumn("cents", round(col("valor") * 100).cast("long"))
      .withColumn("n_c", count(col("cents")).over(w))
      .withColumn("s_c", sum(col("cents")).over(w))
      // exact integer = win·100·(valor − trend); null off the full window
      .withColumn("detr_scaled",
        when(col("n_c") === win,
          lit(win.toLong) * col("cents") - col("s_c")))
      .withColumn("month_of_year", month(col("indice_tiempo")))
    val scaleDen = lit(win * 100.0)
    val seasonal = centered.filter(col("detr_scaled").isNotNull)
      .groupBy((keys.map(col) :+ col("month_of_year")): _*)
      .agg(sum(col("detr_scaled")).as("sum_d"),
        count(lit(1)).as("n_d"))
    centered.join(seasonal, keys :+ "month_of_year", "left")
      .withColumn("trend",
        when(col("n_c") === win,
          round(col("s_c").cast("double") / (win * 100.0), 6)))
      .withColumn("seasonal",
        round(col("sum_d").cast("double") / (scaleDen * col("n_d")), 6))
      .withColumn("residual",
        when(col("n_c") === win,
          round(col("cents") / 100.0 -
            col("s_c").cast("double") / (win * 100.0) -
            col("sum_d").cast("double") / (scaleDen * col("n_d")), 6)))
      .drop("cents", "n_c", "s_c", "detr_scaled", "sum_d", "n_d")
  }

  /** Rolling z-score anomaly detection — the outlier screen of a series
    * QA pass. Each observation is tested against the statistics of its
    * `k` trailing PREDECESSORS (current row excluded — including it
    * would cap a lone spike's z at √(n−1) and hide it). The test is
    * evaluated ENTIRELY in exact integer cents: with `n`, `s = Σx`,
    * `sq = Σx²` over the predecessor frame (integer sliding sums are
    * exact under any summation tree), the condition `|x − mean| > kσ·std`
    * multiplies through by `n²` to `(n·x − s)² > kσ²·(n·sq − s²)` — no
    * FP enters the verdict, so any engine reproduces it bit-for-bit. A
    * zero-variance predecessor window flags ANY deviation (`dev² > 0`).
    * The reported `zscore = (n·x − s)/√(n·sq − s²)` is one fixed double
    * expression rounded to 6 dp (null when the predecessor variance is
    * zero or fewer than `minObs` predecessors exist).
    *
    * One shuffle by key; the frame is O(k) per row. */
  def rollingAnomaly(series: DataFrame, k: Int, kSigma: Int = 2,
      minObs: Int = 3, keys: Seq[String] = Seq("serie_id"),
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("indice_tiempo") +: tieCols.map(col): _*)
      .rowsBetween(-k, -1)
    val x = col("cents")
    val n = col("n_w"); val s = col("s_w"); val sq = col("sq_w")
    val dev = n * x - s              // n·(x − mean), exact
    val varn = n * sq - s * s        // n²·var, exact
    series
      .withColumn("cents", round(col("valor") * 100).cast("long"))
      .withColumn("n_w", count(x).over(w))
      .withColumn("s_w", sum(x).over(w))
      .withColumn("sq_w", sum(x * x).over(w))
      .withColumn("anomaly",
        n >= minObs && dev * dev > lit(kSigma.toLong * kSigma) * varn)
      .withColumn("zscore",
        when(n >= minObs && varn > 0,
          round(dev.cast("double") / sqrt(varn.cast("double")), 6)))
      .drop("cents", "s_w", "sq_w")
  }

  /** Linear interpolation of missing observations — the gap-repair mode
    * the reference ecosystem's series API offers alongside forward fill
    * (series-tiempo-ar `collapse`/fill handling of incomplete periods).
    * A null `valor` between two observed values is replaced by the
    * straight line through its neighbours:
    * `prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`; leading
    * and trailing nulls (no neighbour on one side) stay null.
    *
    * Two frames over one `partitionBy(keys)` ordering — Spark plans a
    * single shuffle and a single sort for both (unbounded-preceding and
    * unbounded-following share the window spec), so at 100 TB this
    * costs the same one shuffle-by-key as forward fill. The fraction is
    * computed in double with one fixed expression shape so any IEEE-754
    * engine reproduces it bit-for-bit (rounded to 6 dp). */
  def interpolate(series: DataFrame, keys: Seq[String] = Seq("serie_id"),
      tieCols: Seq[String] = Nil): DataFrame = {
    val ord = col("indice_tiempo") +: tieCols.map(col)
    val back = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tNonNull = when(col("valor").isNotNull, col("indice_tiempo"))
    val prevV = last(col("valor"), ignoreNulls = true).over(back)
    val prevT = last(tNonNull, ignoreNulls = true).over(back)
    val nextV = first(col("valor"), ignoreNulls = true).over(fwd)
    val nextT = first(tNonNull, ignoreNulls = true).over(fwd)
    series
      .withColumn("prev_valor", prevV).withColumn("prev_tiempo", prevT)
      .withColumn("next_valor", nextV).withColumn("next_tiempo", nextT)
      .withColumn("valor_interp",
        when(col("valor").isNotNull, col("valor"))
          .otherwise(round(
            col("prev_valor") + (col("next_valor") - col("prev_valor")) *
              ((col("indice_tiempo") - col("prev_tiempo")).cast("double") /
               (col("next_tiempo") - col("prev_tiempo")).cast("double")),
            6)))
      .drop("prev_valor", "prev_tiempo", "next_valor", "next_tiempo")
  }

  /** Period-over-period percentage change — the `percent_change`
    * representation the reference ecosystem's series API serves
    * (series-tiempo-ar `representation_mode=percent_change`). ÷0-safe
    * via nullif; null at the series start (no prior period). One lag
    * window = one shuffle. */
  def pctChange(series: DataFrame,
      keys: Seq[String] = Seq("serie_id")): DataFrame = {
    val prev = lag(col("valor"), 1).over(w(keys))
    series
      .withColumn("prev_valor", prev)
      .withColumn("pct_change",
        round((col("valor") - col("prev_valor")) /
          nullif(col("prev_valor"), lit(0.0)), 6))
  }

  /** Rolling statistics over the last `k` observations per key (moving
    * average and extrema — the smoothing/denoising pass of any series
    * dashboard). The mean is computed over EXACT integer cents
    * (round(valor*100) summed as BIGINT) so the sliding-frame sum is
    * associativity-independent: engines that fold sliding windows with
    * segment trees (different FP association) still reproduce it
    * bit-for-bit. One shuffle; the frame is O(k) per row. */
  def rollingStats(series: DataFrame, k: Int,
      keys: Seq[String] = Seq("serie_id"),
      tieCols: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("indice_tiempo") +: tieCols.map(col): _*)
      .rowsBetween(-(k - 1), Window.currentRow)
    series
      .withColumn("cents", round(col("valor") * 100).cast("long"))
      .withColumn("n_window", count(col("cents")).over(w))
      .withColumn("roll_avg",
        round(sum(col("cents")).over(w) / (col("n_window") * 100.0), 4))
      .withColumn("roll_min", min(col("valor")).over(w))
      .withColumn("roll_max", max(col("valor")).over(w))
      .drop("cents")
  }

  /** Per-group least-squares trend of an INTEGER-valued series — the
    * "is this series growing, and how fast" primitive behind series
    * screening and capacity forecasts. Closed-form OLS from five
    * integer sums (n, Σx, Σy, Σxy, Σx²), with x re-based to the
    * group's min so products stay far from Long overflow:
    * slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) and the intercept from the
    * same exact-integer numerators — the ONLY floating point is the
    * final two divisions, rounded 6 dp, so any engine reproduces the
    * fit bit-for-bit. Degenerate groups (single x) report null slope.
    *
    * Scale shape: one broadcast-joined min-x (metadata grain), one
    * codegen'd projection for the products, ONE partially-aggregated
    * groupBy — no window, no sort; shuffle carries groups × 5 sums. */
  def linearTrend(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val minX = df.groupBy(col(groupCol))
      .agg(min(col(xCol)).as("_x0"))
    val p = df.join(broadcast(minX), Seq(groupCol))
      .select(col(groupCol),
        (col(xCol).cast("long") - col("_x0")).as("x"),
        col(yCol).cast("long").as("y"))
      .select(col(groupCol), col("x"), col("y"),
        (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("xy")).as("sxy"),
        sum(col("xx")).as("sxx"))
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    p.select(col(groupCol), col("n"),
        when(den === 0, lit(null).cast("double")).otherwise(
          round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast("double") / den, 6)).as("slope"),
        when(den === 0, lit(null).cast("double")).otherwise(
          round((col("sy") * col("sxx") - col("sx") * col("sxy"))
            .cast("double") / den, 6)).as("intercept"))
  }

  /** Per-group CUSUM changepoint: the x where the cumulative deviation
    * from the group mean peaks — the "did this series shift level, and
    * when" screen run before trusting a trend. The statistic is kept
    * INTEGER by scaling with n: S_k = n·Σ_{i≤k} y_i − k·Σy (zero mean
    * drift ⇒ S wanders near 0; a level shift at k ⇒ |S| peaks at k), so
    * every engine reproduces the argmax exactly; the reported
    * `shift` = max|S| / (n·100) converts back to mean y-units only at
    * the end (y is expected in cents). Ties break on the earliest x.
    *
    * Scale shape: group totals broadcast back, ONE keyed window for
    * the running sum, and the per-group argmax rank plans as
    * WindowGroupLimit — shuffle carries the series, result is one row
    * per group. */
  def cusumChangepoint(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val totals = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col(yCol).cast("long")).as("sy"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s = df.select(col(groupCol), col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .join(broadcast(totals), Seq(groupCol))
      .withColumn("k", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("x"))))
      .withColumn("cum", sum(col("y")).over(w))
      .withColumn("s_abs",
        abs(col("n") * col("cum") - col("k") * col("sy")))
    val rankW = Window.partitionBy(col(groupCol))
      .orderBy(col("s_abs").desc, col("x"))
    s.withColumn("rnk", row_number().over(rankW))
      .filter(col("rnk") === 1)
      .select(col(groupCol), col("n"), col("x").as("cp_x"),
        col("s_abs"),
        round(col("s_abs").cast("double") / (col("n") * 100.0), 6)
          .as("shift"))
  }

  /** Point-in-interval join, bucketed: match each point (timestamp
    * `tsCol`, µs precision) to every interval whose half-open
    * [start, end) contains it — incident windows over event logs,
    * validity ranges over measurements. A naive range join has no
    * equi-key, so Spark plans BroadcastNestedLoopJoin — all points ×
    * all intervals, the classic 100 TB killer. Here both sides bucket
    * time into `bucketUs`-wide cells: each interval EXPLODES to the
    * (bounded: len/bucket + 1) buckets it overlaps, points map to
    * exactly one bucket, and the match becomes an EQUI-join on bucket
    * followed by the exact range predicate. Shuffle is keyed by
    * time-bucket — co-temporal rows co-locate, and AQE handles a hot
    * bucket like any skewed key.
    *
    * Pick `bucketUs` ≈ the typical interval length: shorter buckets
    * multiply interval replicas, longer ones widen the per-bucket
    * candidate set. Inner semantics (unmatched points drop); interval
    * columns arrive prefixed `iv_`. */
  def pointInIntervalJoin(points: DataFrame, tsCol: String,
      intervals: DataFrame, startCol: String, endCol: String,
      bucketUs: Long = 86400000000L): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val iv = intervals.columns.foldLeft(intervals) { (df, c) =>
      df.withColumnRenamed(c, s"iv_$c") }
      // a corrupt row with end <= start can never match the half-open
      // predicate — and UNFILTERED it feeds sequence(hi, lo), whose
      // default step -1 materializes the full DESCENDING bucket range:
      // one interval spanning years backwards explodes to millions of
      // replicas before the exact filter discards them all
      .filter(col(s"iv_$endCol") > col(s"iv_$startCol"))
    val ivB = iv.withColumn("_bucket",
      explode(sequence(
        floor(unix_micros(col(s"iv_$startCol")) / bucketUs).cast("long"),
        // end is EXCLUSIVE: an interval ending exactly on a bucket
        // boundary does not reach into that bucket
        floor((unix_micros(col(s"iv_$endCol")) - 1) / bucketUs)
          .cast("long"))))
    points
      .withColumn("_bucket",
        floor(unix_micros(col(tsCol)) / bucketUs).cast("long"))
      .join(ivB, Seq("_bucket"))
      .filter(col(tsCol) >= col(s"iv_$startCol") &&
        col(tsCol) < col(s"iv_$endCol"))
      .drop("_bucket")
  }

  /** Interval-overlap join, bucketed — the interval × interval
    * companion of [[pointInIntervalJoin]]: every (left, right) pair
    * whose half-open [start, end) ranges intersect
    * (`l.start < r.end && r.start < l.end`). Both sides explode to
    * their `bucketUs`-wide time cells and meet on an EQUI-join keyed
    * by (optional `keys` ++ bucket) — never a BroadcastNestedLoopJoin.
    * A pair sharing several buckets would duplicate, so the join keeps
    * only the FIRST shared bucket — `max(l.startBucket, r.startBucket)`,
    * which two overlapping intervals always co-occupy: each pair emits
    * exactly once with NO post-join distinct (the usual dedup shuffle
    * is gone by construction).
    *
    * Columns arrive prefixed `l_` / `r_`; `keys` (unprefixed in both
    * inputs) stay shared. Inner semantics; degenerate rows with
    * end <= start are dropped on both sides (they cannot overlap
    * anything, and unfiltered they'd explode descending bucket
    * ranges). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      startCol: String, endCol: String, bucketUs: Long = 86400000000L,
      keys: Seq[String] = Nil): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    def prep(df: DataFrame, p: String): DataFrame = {
      val renamed = df.columns.foldLeft(df) { (d, c) =>
        if (keys.contains(c)) d else d.withColumnRenamed(c, s"$p$c") }
      renamed.filter(col(s"$p$endCol") > col(s"$p$startCol"))
        .withColumn(s"${p}sb",
          floor(unix_micros(col(s"$p$startCol")) / bucketUs).cast("long"))
        .withColumn("_bucket", explode(sequence(col(s"${p}sb"),
          floor((unix_micros(col(s"$p$endCol")) - 1) / bucketUs)
            .cast("long"))))
    }
    prep(left, "l_").join(prep(right, "r_"), keys :+ "_bucket")
      .filter(col(s"l_$startCol") < col(s"r_$endCol") &&
        col(s"r_$startCol") < col(s"l_$endCol") &&
        col("_bucket") === greatest(col("l_sb"), col("r_sb")))
      .drop("_bucket", "l_sb", "r_sb")
  }

  /** Per-left-interval count of overlapping right intervals — the
    * COUNT form of [[intervalOverlapJoin]] that never materializes a
    * pair. The join form's output is inherently pair-grain: with a
    * FIXED time range and growing density (the TPC-H time-scaling
    * shape — 100× the windows per day at ×100) overlapping pairs grow
    * ~density² and so does the join, for data reasons no banding can
    * remove. When the question is only "how many", order statistics
    * answer it at interval grain: for half-open intervals,
    *
    *   n(b) = #{a : a.start < b.end} − #{a : a.end ≤ b.start}
    *
    * (the two excluded sets are disjoint for well-formed intervals, so
    * the subtraction is exact). Each term is a distributed rank: union
    * the right-side event times with the left-side query times, bucket
    * by `bucketUs`, take a per-bucket running sum of event weights
    * (window, slim rows), and add the previous buckets' totals from a
    * bucket histogram (time-range/bucketUs rows — metadata scale;
    * broadcast). Ties are exact by construction: at equal time the
    * window orders queries BEFORE events for the strict `<` rank and
    * AFTER them for the `≤` rank, so boundary-touching intervals
    * (a.start == b.end, a.end == b.start) never count as overlap,
    * byte-identical to the join form's predicate.
    *
    * Scale shape: 2 window shuffles + 2 tiny histogram aggregates +
    * one id-grain join — every frame linear in interval count. Returns
    * (idCol, n_overlap) for EVERY left interval, including 0-overlap
    * ones; `idCol` must be unique per left row. */
  def intervalOverlapCounts(left: DataFrame, right: DataFrame,
      idCol: String, startCol: String, endCol: String,
      bucketUs: Long = 86400000000L): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    val idType = left.schema(idCol).dataType
    def rank(queries: DataFrame, qtCol: String, events: DataFrame,
        etCol: String, strict: Boolean, outCol: String): DataFrame = {
      val u = queries
        .select(col(qtCol).as("_t"), lit(0L).as("_w"), col(idCol).as("_id"))
        .unionByName(events.select(col(etCol).as("_t"), lit(1L).as("_w"),
          lit(null).cast(idType).as("_id")))
        .withColumn("_b", floor(col("_t") / bucketUs))
      // previous buckets' event totals: per-bucket grain (metadata
      // scale), so the single-partition cumulative window is fine
      val offs = u.groupBy(col("_b")).agg(sum(col("_w")).as("_n"))
        .withColumn("_off", coalesce(sum(col("_n")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("_b"))
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .drop("_n")
      // at equal _t: strict rank sorts queries (w=0) first so same-time
      // events don't count; the ≤ rank sorts events first so they do
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_b"))
        .orderBy(col("_t").asc, if (strict) col("_w").asc else col("_w").desc)
        .rowsBetween(Long.MinValue, 0)
      u.withColumn("_r", sum(col("_w")).over(w))
        .filter(col("_w") === 0)
        .join(broadcast(offs), Seq("_b"))
        .select(col("_id").as(idCol), (col("_r") + col("_off")).as(outCol))
    }
    def wellFormed(df: DataFrame) = df.filter(col(endCol) > col(startCol))
    val l = wellFormed(left).select(col(idCol),
      unix_micros(col(startCol)).as("_ls"), unix_micros(col(endCol)).as("_le"))
    val r = wellFormed(right).select(
      unix_micros(col(startCol)).as("_rs"), unix_micros(col(endCol)).as("_re"))
    rank(l, "_le", r.select(col("_rs")), "_rs", strict = true, "_n1")
      .join(rank(l, "_ls", r.select(col("_re")), "_re",
        strict = false, "_n2"), Seq(idCol))
      .select(col(idCol), (col("_n1") - col("_n2")).as("n_overlap"))
  }

  /** Time-weighted average (TWAP): per key, the mean of a value where
    * each observation is weighted by HOW LONG IT HELD — the duration
    * until the next observation — not by how often it was sampled
    * (irregular series make the plain mean a sampling-rate artifact).
    * The last observation of a key carries no duration and drops,
    * matching the half-open "value holds on [t_i, t_{i+1})" reading.
    *
    * Exactness: values in integer cents × µs durations accumulate in
    * DECIMAL(38,0) (cents·µs products cross 2⁶³ after a few hundred
    * rows); the quotient is the ONLY floating-point step. One keyed
    * window (lead) + one aggregate — single shuffle on the key.
    *
    * Determinism: duplicate timestamps within a key make the lead()
    * ordering — and therefore WHICH tied observation carries the
    * nonzero duration — implementation-dependent. `tieCols` breaks
    * the tie (e.g. an event id): tied-but-earlier rows get duration
    * 0 and drop out of the weighting ENTIRELY — the `_dur > 0`
    * filter excludes them from the sums AND from `n_intervals`, so
    * the last tied row alone carries the interval. Callers with
    * possibly-tied data MUST pass a unique tiebreak or the result is
    * order-dependent. */
  def twap(df: DataFrame, keyCols: Seq[String], tsUsCol: String,
      centsCol: String, tieCols: Seq[String] = Nil): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsUsCol) +: tieCols.map(col): _*)
    val dec = "decimal(38,0)"
    df.withColumn("_dur", lead(col(tsUsCol), 1).over(w) - col(tsUsCol))
      .filter(col("_dur") > 0)
      .groupBy(keyCols.map(col): _*)
      .agg(
        sum((col(centsCol) * col("_dur")).cast(dec)).as("_num"),
        sum(col("_dur").cast(dec)).as("_den"),
        count(lit(1)).as("n_intervals"))
      .select(keyCols.map(col) ++ Seq(
        round(col("_num").cast("double") / col("_den").cast("double") / 100.0,
          6).as("twap"),
        col("n_intervals")): _*)
  }

  /** Truncated dyadic EWMA — exponential smoothing with α = 1/2 over
    * the trailing `k` observations: weight 2^(k−1−j) on the value j
    * rows back, normalized by the weights actually present (so the
    * series head uses a shorter, correctly-renormalized kernel instead
    * of a fabricated zero history). α = 1/2 is deliberate: every
    * weight is a power of two, so numerator and denominator are EXACT
    * integer sums over integer-cents inputs — the smoothed value is a
    * single final division, reproducible bit-for-bit on any engine,
    * unlike float-recursive EWMA where the summation order is the
    * answer. Truncation at k is principled too: the dropped tail mass
    * is 2^−k of the kernel (< 0.4% at k = 8).
    *
    * One window, k lag expressions, all codegen'd — no explode, no
    * self-join; at scale this shuffles once on the partition key like
    * any keyed window. `centsCol` must be integral (cents-style). */
  def dyadicEwma(df: DataFrame, partCols: Seq[String],
      orderCols: Seq[Column], centsCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 62, "k must be in [1, 62]")
    val w = Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)
    val terms = (0 until k).map { j =>
      val weight = 1L << (k - 1 - j)
      val x = if (j == 0) col(centsCol).cast("long")
        else lag(col(centsCol).cast("long"), j).over(w)
      (coalesce(x * weight, lit(0L)),
        when(x.isNotNull, lit(weight)).otherwise(lit(0L)))
    }
    df.withColumn("ewma_num", terms.map(_._1).reduce(_ + _))
      .withColumn("ewma_den", terms.map(_._2).reduce(_ + _))
      .withColumn("ewma", round(col("ewma_num") / col("ewma_den"), 6))
  }
}
