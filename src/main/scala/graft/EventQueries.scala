package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.EventOps

/** Windowing / sessionization / JSON extraction over `events`
  * (SURVEY §2.3) — batch forms of the streaming operators, with exact
  * integer-µs window math for oracle parity. */
object EventQueries {

  /** PSI reference/current cut: 2024-01-16T00:00:00Z in µs — the
    * midpoint of the fixture's one-month event span, so both halves
    * are dense at every scale factor. */
  private val psiCutUs = 1705363200000000L

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // JSON property extraction (the `data jsonb` access pattern)
    "events_json_extract" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(EventOps.jsonProp(col("props"), "k")).as("sum_k"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    }),

    // the VARIANT route to the same payload (Spark 4's binary
    // semi-structured type): parse once, typed-path extraction — at
    // scale a VARIANT column parses at ingestion, not per query, which
    // is the reason to prefer it over per-expression get_json_object
    "events_variant_extract" -> ((s, dir) => {
      val k = expr("variant_get(parse_json(props), '$.k', 'int')")
      Tables.events(s, dir)
        .select(col("event_type"), k.as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type"))
    }),

    // 10-minute tumbling windows
    "events_tumbling" -> ((s, dir) => {
      EventOps.tumblingAgg(Tables.events(s, dir), seconds = 600)
        .orderBy(col("window_start"), col("event_type"))
    }),

    // OHLC bars per (series, 10-min window) — the metrics-store
    // candlestick fold: open/close by (ts, event_id) first/last order,
    // high/low as plain extremes, all integer cents. first_value over
    // the two orderings of a window already partitioned by (series,
    // bucket) — the event log's natural partitioning, one shuffle.
    // lag-k autocorrelation of the hourly value series per type (k =
    // 1..3): Pearson over (x_t, x_{t−k}) pairs — the "does last hour
    // predict this hour" diagnostic that decides whether a monitor
    // needs the seasonality baseline at all. Sums accumulate as exact
    // DECIMAL(38,0) (the stats_corr_matrix discipline), the correlation
    // derives through identical IEEE double ops both engines, round 6;
    // the series is hours × types — near-metadata after one scan
    "events_autocorr" -> ((s, dir) => {
      val h = Tables.events(s, dir).select(col("event_type"),
          expr("ts_us div 3600000000").as("hr"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents")).cast("decimal(19,0)").as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      def lagRows(k: Int) = h
        .withColumn("xp", lag(col("x"), k).over(w))
        .filter(col("xp").isNotNull)
        .select(col("event_type"), lit(k.toLong).as("lag"),
          col("x"), col("xp"))
      def dbl(c: String) = col(c).cast("double")
      (1 to 3).map(lagRows).reduce(_ unionAll _)
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("xp")).as("sp"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("xp") * col("xp")).as("spp"),
          sum(col("x") * col("xp")).as("sxp"))
        .select(col("event_type"), col("lag"),
          col("n").cast("long").as("n_pairs"),
          round((dbl("n") * dbl("sxp") - dbl("sx") * dbl("sp")) /
            (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(dbl("n") * dbl("spp") - dbl("sp") * dbl("sp"))), 6)
            .as("autocorr"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // hour-of-day seasonality profile: per-(type, hour) count, integer
    // mean, and deviation from the type's overall mean — the seasonal
    // baseline a monitoring pipeline subtracts before anomaly scoring
    // (a raw z-score fires every rush hour otherwise). Two tiny
    // aggregates; all values nonnegative so truncating div == floor div
    "events_seasonality" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("(ts_us div 3600000000) % 24").as("hour"),
        round(col("value") * 100).cast("long").as("cents"))
      val hourly = e.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_c"))
      val overall = hourly.groupBy(col("event_type"))
        .agg(sum(col("n")).as("tn"), sum(col("sum_c")).as("tc"))
      hourly.join(broadcast(overall), Seq("event_type"))
        .select(col("event_type"), col("hour"), col("n"),
          expr("sum_c * 100 div n").as("mean_cents_x100"),
          expr("sum_c * 100 div n - tc * 100 div tn").as("dev_cents_x100"))
        .orderBy(col("event_type"), col("hour"))
    }),

    "events_ohlc" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        col("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("ts_us") - pmod(col("ts_us"), lit(600000000L))).as("w_us"))
      val asc = Window.partitionBy(col("event_type"), col("w_us"))
        .orderBy(col("ts_us"), col("event_id"))
      val desc = Window.partitionBy(col("event_type"), col("w_us"))
        .orderBy(col("ts_us").desc, col("event_id").desc)
      e.withColumn("open_c", first(col("cents")).over(asc))
        .withColumn("close_c", first(col("cents")).over(desc))
        .groupBy(col("event_type"), col("w_us"))
        .agg(max(col("open_c")).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max(col("close_c")).as("close_cents"),
          count(lit(1)).as("n"))
        .select(expr("w_us div 1000000").as("window_start"),
          col("event_type"), col("open_cents"), col("high_cents"),
          col("low_cents"), col("close_cents"), col("n"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // gap-filled 10-minute resample: every (type, window) cell of the
    // full time grid, zero-filled where no events fell
    "events_resample" -> ((s, dir) => {
      EventOps.resampleTumbling(Tables.events(s, dir), seconds = 600)
        .orderBy(col("window_start"), col("event_type"))
    }),

    // CUSUM drift detection per series — the classic change-point
    // monitor: cumulative sum of (value − series mean) in integer
    // cents, max/min excursions per series, drift verdict when the
    // worst excursion exceeds a tenth of the total absolute deviation
    // (all floor-integer, so the verdict hash-gates). One per-series
    // cumulative window over the log's natural partitioning.
    // CONVENTION (ADVICE r14): the integer mean pairs Spark `div`
    // (truncates toward zero) with DuckDB `//` (floors) — identical
    // only for NON-NEGATIVE numerators. events.value is a price-like
    // non-negative measure (as are all cents columns in this suite),
    // so every series' cents sum is ≥ 0; a signed-measure series would
    // need an explicit floor-div on the Spark side.
    "events_cusum" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        col("ts_us"), col("event_id"),
        round(col("value") * 100).cast("long").as("cents"))
      val stats = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
        .select(col("event_type"), expr("sc div n").as("mean_cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.join(broadcast(stats), "event_type")
        .withColumn("dev", col("cents") - col("mean_cents"))
        .withColumn("cusum", sum(col("dev")).over(w))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(col("mean_cents")).as("mean_cents"),
          max(col("cusum")).as("max_cusum"),
          min(col("cusum")).as("min_cusum"),
          sum(abs(col("dev"))).as("abs_dev"))
        .withColumn("drift",
          greatest(col("max_cusum"), -col("min_cusum")) * 10 >= col("abs_dev"))
        .orderBy(col("event_type"))
    }),

    // time-weighted average per series (the metrics-store TWAP): each
    // observation holds until its successor, weight = the µs gap —
    // exact integer cents×µs sums, one lead window per series
    "events_twap" -> ((s, dir) => {
      EventOps.timeWeightedAvg(Tables.events(s, dir), "event_type")
        .orderBy(col("event_type"))
    }),

    // funnel latency SLOs: exact p50/p90/p99 of the signup→purchase
    // conversion time over completing users — the composition every
    // funnel dashboard ships next to the reach counts
    "events_funnel_latency" -> ((s, dir) => {
      val reach = EventOps.funnelReach(Tables.events(s, dir), "user_id",
        "event_type", "ts_us", Seq("signup", "click", "purchase"))
      reach.filter(col("t3").isNotNull)
        .select((col("t3") - col("t1")).cast("long").as("latency_us"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(latency_us, 0.5)"), 2).as("p50_us"),
          round(expr("percentile(latency_us, 0.9)"), 2).as("p90_us"),
          round(expr("percentile(latency_us, 0.99)"), 2).as("p99_us"))
    }),

    // gap-filled resample with LOCF: empty buckets carry the newest
    // non-empty bucket's value per series (the metrics-store fill(prev)
    // — a zero-filled gap misreads "no samples" as "value dropped to 0")
    "events_locf" -> ((s, dir) => {
      EventOps.resampleLocf(Tables.events(s, dir), seconds = 600)
        .orderBy(col("window_start"), col("event_type"))
    }),

    // gap-fill, LINEAR flavor: missing 10-min buckets interpolate
    // between the surrounding known bucket means (LOCF at the trailing
    // edge, backfill at the leading) — the metrics-store fill the LOCF
    // entry's step function under-serves for smooth series
    "events_interpolate" -> ((s, dir) => {
      EventOps.resampleInterpolate(Tables.events(s, dir), seconds = 600)
        .orderBy(col("window_start"), col("event_type"))
    }),

    // 10-minute windows sliding every 5 minutes (each event in 2 windows)
    "events_sliding" -> ((s, dir) => {
      EventOps.slidingAgg(Tables.events(s, dir), lengthSeconds = 600, slideSeconds = 300)
        .orderBy(col("window_start"), col("event_type"))
    }),

    // 30-minute-gap sessionization
    "events_sessionize" -> ((s, dir) => {
      EventOps.sessionize(Tables.events(s, dir), gapUs = 30L * 60 * 1000000)
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // per-key rate limiting: at most one event per (user, type) per
    // minute — the tumbling-bucket dedup a 100 TB event pipeline runs
    // at ingestion (first event of each bucket wins, id tie-break)
    "events_rate_limit" -> ((s, dir) => {
      val w = Window
        .partitionBy(col("user_id"), col("event_type"),
          expr("ts_us div 60000000"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        .orderBy(col("user_id"), col("event_type"), col("ts_us"))
    }),

    // winsorized (5%/95%-clipped) robust mean per event type: exact
    // interpolated percentile cuts quantized to cents (floor kills
    // low-bit interpolation drift between engines), then an
    // all-integer clipped mean via div
    "events_winsorized" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val cuts = e.groupBy(col("event_type")).agg(
        floor(expr("percentile(cents, 0.05)")).cast("long").as("p5c"),
        floor(expr("percentile(cents, 0.95)")).cast("long").as("p95c"))
      e.join(broadcast(cuts), Seq("event_type"))
        .select(col("event_type"), col("p5c"), col("p95c"),
          greatest(least(col("cents"), col("p95c")), col("p5c")).as("clipped"))
        .groupBy(col("event_type"), col("p5c"), col("p95c"))
        .agg(count(lit(1)).as("n"), sum(col("clipped")).as("clipped_sum"))
        .select(col("event_type"), col("p5c"), col("p95c"), col("n"),
          col("clipped_sum"), expr("clipped_sum div n").as("wmean_cents"))
        .orderBy(col("event_type"))
    }),

    // HOLT'S LINEAR-TREND exponential smoothing (Holt 1957) of the
    // per-type daily revenue, α = β = 1/2 so every update is an exact
    // integer halving:  lₜ = ⌊(yₜ + lₜ₋₁ + bₜ₋₁)/2⌋,
    // bₜ = ⌊(bₜ₋₁ + (lₜ − lₜ₋₁))/2⌋ — the float-free member of the
    // exponential-smoothing family, so the 3-step-ahead forecast
    // hash-gates. b (and transiently the level sum) CAN go negative,
    // and Spark's `div` truncates while DuckDB's `//` floors — so the
    // halving is written as the portable floor-div
    // (x − ((x % 2) + 2) % 2) div 2 (even numerator ⇒ truncation ≡
    // floor on both engines). The recurrence folds over ONE
    // day-grid-bounded array row per type via the `aggregate` HOF
    // (the events_survival_km discipline — never a driver collect);
    // the oracle walks the same recurrence as a recursive CTE keyed
    // by type (all series recurse in parallel).
    "events_forecast_holt" -> ((s, dir) => {
      def fd2(e: String) = s"(($e) - (((($e) % 2) + 2) % 2)) div 2"
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      daily
        .groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("day"), col("y"))))
          .as("a"))
        .select(col("event_type"), size(col("a")).cast("long").as("n_days"),
          expr(s"""aggregate(a,
            |named_struct('l', CAST(NULL AS BIGINT), 'b', CAST(0 AS BIGINT)),
            |(acc, x) -> CASE WHEN acc.l IS NULL
            |  THEN named_struct('l', x.y, 'b', CAST(0 AS BIGINT))
            |  ELSE named_struct(
            |    'l', ${fd2("x.y + acc.l + acc.b")},
            |    'b', ${fd2(s"acc.b + (${fd2("x.y + acc.l + acc.b")}) - acc.l")})
            |  END)""".stripMargin).as("st"))
        .select(col("event_type"), col("n_days"),
          col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
          (col("st.l") + col("st.b")).as("f1_cents"),
          (col("st.l") + col("st.b") * 2).as("f2_cents"),
          (col("st.l") + col("st.b") * 3).as("f3_cents"))
        .orderBy(col("event_type"))
    }),

    // CHANGEPOINT LOCATION — the CUSUM monitor's missing half: the
    // cusum entries FLAG that a shift happened; this estimates WHERE
    // (the classic single-changepoint estimator: the day maximizing
    // |Σ_{≤d}(y − ȳ)|) and prices it (pre/post means and the shift).
    // The deviation is kept exact-integer by scaling: |cum·nd − rk·ty|
    // is nd·|cusum| (bound ≈ Σy·nd ≈ 2e10 at sf0.1 — far inside
    // BIGINT); argmax ties break to the earliest day via the
    // (dev DESC, day) rank. Everything runs on the per-type daily
    // grid — metadata-sized after the one rollup pass.
    "events_changepoint" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val tot = daily.groupBy(col("event_type"))
        .agg(sum(col("y")).as("ty"), count(lit(1)).as("nd"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val c = daily.join(tot, Seq("event_type"))
        .withColumn("rk", row_number().over(w))
        .withColumn("cum", sum(col("y")).over(w))
        .withColumn("dev",
          abs(col("cum") * col("nd") - col("rk") * col("ty")))
      val wr = Window.partitionBy(col("event_type"))
        .orderBy(col("dev").desc, col("day"))
      c.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("event_type"), col("day").as("change_day"),
          expr("cum div rk").as("pre_mean_cents"),
          expr("(ty - cum) div (nd - rk)").as("post_mean_cents"),
          (expr("(ty - cum) div (nd - rk)") - expr("cum div rk"))
            .as("shift_cents"))
        .orderBy(col("event_type"))
    }),

    // SEASONAL ADJUSTMENT — the additive day-of-week decomposition
    // that turns "revenue dipped" into "revenue dipped MORE than a
    // normal Sunday": per dow, index = dow mean − grand mean over the
    // calendar-bounded daily grid (exact integer cents throughout,
    // floor-div means; the one data-sized pass is the daily rollup),
    // plus the adjustment's own effectiveness receipt — Σ|y−ȳ| before
    // vs Σ|y−idx(dow)−ȳ| after, as integers. A seasonal index whose
    // adjustment does NOT shrink the deviation mass is a loud sign
    // the weekly cycle isn't real.
    "events_seasonal_adjust" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
        .withColumn("dow", expr("((day) + 4) % 7"))
      val grand = daily.agg(sum(col("y")).as("ty"),
        count(lit(1)).as("nd"))
      val idx = daily.groupBy(col("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"))
        .crossJoin(broadcast(grand))
        .select(col("dow"), col("n_days"),
          expr("sy div n_days").as("mean_cents"),
          (expr("sy div n_days") - expr("ty div nd")).as("idx_cents"))
      val dev = daily.crossJoin(broadcast(grand))
        .join(broadcast(idx.select(col("dow"), col("idx_cents"))),
          Seq("dow"))
        .agg(sum(abs(col("y") - expr("ty div nd"))).as("dev_before"),
          sum(abs(col("y") - col("idx_cents") - expr("ty div nd")))
            .as("dev_after"))
      idx.crossJoin(broadcast(dev))
        .select(col("dow"), col("n_days"), col("mean_cents"),
          col("idx_cents"), col("dev_before"), col("dev_after"))
        .orderBy(col("dow"))
    }),

    // FORECAST BACKTEST (MASE — Hyndman & Koehler 2006): one-step
    // evaluation of the seasonal-naive forecaster (ŷ_d = y_{d−7} in
    // rank space over the observed day grid) against the naive
    // in-sample scale (|y_d − y_{d−1}|) — the denominator that makes
    // MASE unit-free and comparable across series. The entire
    // backtest runs on the per-type DAILY grid (≤ calendar-bounded
    // rows per type — metadata-sized at any corpus scale; the one
    // data-sized pass is the daily rollup), and the ratio is the
    // exact integer form sum7·n1·10⁶ div (sum1·n7) — bound
    // sum7·n1·10⁶ ≤ days²·max_daily_cents·10⁶ ≈ 10¹⁸ at 10⁸-cents
    // days, inside BIGINT; widen to DECIMAL(38,0) past that. A
    // mase_ppm below 10⁶ says weekly seasonality carries real signal;
    // the forecast_holt entry produces forecasts, this one prices
    // them.
    "events_forecast_backtest" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("d1", abs(col("y") - lag(col("y"), 1).over(w)))
        .withColumn("d7", abs(col("y") - lag(col("y"), 7).over(w)))
        .groupBy(col("event_type"))
        .agg(count(col("d1")).as("n1"), sum(col("d1")).as("sum1"),
          count(col("d7")).as("n7"), sum(col("d7")).as("sum7"))
        .filter(col("n7") > 0 && col("sum1") > 0)
        .select(col("event_type"), col("n1"), col("n7"),
          expr("sum1 div n1").as("mae_naive_cents"),
          expr("sum7 div n7").as("mae_snaive_cents"),
          expr("sum7 * n1 * 1000000 div (sum1 * n7)").as("mase_ppm"))
        .orderBy(col("event_type"))
    }),

    // THEIL-SEN robust trend (Theil 1950, Sen 1968): the median of all
    // pairwise slopes between the per-type DAILY revenue points — the
    // outlier-immune complement of events_regression's OLS slope (one
    // corrupted day moves OLS arbitrarily; it moves the pairwise-slope
    // median by at most one rank). The pair expansion is over the
    // DAY GRID, not the events (≤ C(days,2) rows per type — bounded by
    // the calendar, invariant in data volume), so the "quadratic"
    // estimator is metadata-sized at any scale. Slopes quantize as the
    // portable floor-div (y₂−y₁)·10⁴ fdiv (d₂−d₁) (slopes go negative
    // — same truncate-vs-floor trap as the Holt fold); the median is
    // the deterministic LOWER median via row_number rank (P+1) div 2.
    "stats_theil_sen" -> ((s, dir) => {
      def fdiv(x: String, n: String) =
        s"(($x) - ((($x) % ($n)) + ($n)) % ($n)) div ($n)"
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts_sec div 86400").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("y"))
      val pairs = daily.as("a")
        .join(daily.as("b"),
          col("a.event_type") === col("b.event_type") &&
            col("a.day") < col("b.day"))
        .select(col("a.event_type").as("event_type"),
          col("a.day").as("d1"), col("b.day").as("d2"),
          expr(fdiv("(b.y - a.y) * 10000", "b.day - a.day"))
            .as("slope_e4"))
      val rk = pairs.withColumn("rk", row_number().over(
          Window.partitionBy(col("event_type"))
            .orderBy(col("slope_e4"), col("d1"), col("d2"))))
        .withColumn("np", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      rk.filter(col("rk") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
          col("slope_e4").as("median_slope_e4"))
        .orderBy(col("event_type"))
    }),

    // exact MODE aggregate per series (the SQL-surface statistical
    // function the suite had not yet exercised): most frequent value
    // with a DETERMINISTIC tiebreak (smallest value wins — engines'
    // native mode() functions tiebreak arbitrarily, which would
    // un-gate the entry, so the mode derives from the value grid via
    // max_by over the (count, −value) order explicitly)
    "agg_mode" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("m"))
        .groupBy(col("event_type"))
        .agg(expr("max_by(cents, struct(m, -cents))").as("mode_cents"),
          max(col("m")).as("mode_n"),
          count(lit(1)).as("n_distinct"))
        .orderBy(col("event_type"))
    }),

    // COHEN'S d effect size pre/post the PSI cut — KS and Mann-Whitney
    // say WHETHER the distribution moved; d says HOW MUCH in pooled-
    // standard-deviation units (the number a drift runbook acts on:
    // |d| < 0.2 is noise at any significance). Exact DECIMAL sums
    // (Σx² passes BIGINT at volume — the corr-matrix discipline), one
    // identical final double expression rounded 6 dp.
    "stats_cohens_d" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("decimal(19,0)").as("cents"),
        (expr("ts div 1000") < lit(psiCutUs)).as("is_pre"))
      e.groupBy(col("event_type"))
        .agg(sum(when(col("is_pre"), 1L).otherwise(0L)).as("n1"),
          sum(when(!col("is_pre"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("is_pre"), col("cents"))).as("s1"),
          sum(when(!col("is_pre"), col("cents"))).as("s2"),
          sum(when(col("is_pre"), col("cents") * col("cents"))).as("q1"),
          sum(when(!col("is_pre"), col("cents") * col("cents"))).as("q2"))
        .select(col("event_type"), col("n1").as("n_pre"),
          col("n2").as("n_post"),
          round(expr(
            """(CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
              |CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
              |sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
              |  CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
              |  (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
              |  CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
              |  (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2))"""
              .stripMargin), 6).as("cohens_d"))
        .orderBy(col("event_type"))
    }),

    // WALD-WOLFOWITZ RUNS TEST: is each series' above/below-median
    // sequence RANDOM in time, or does it cluster (regime-switching,
    // batching artifacts, stuck sensors)? R = 1 + sign changes over
    // the (ts, id)-ordered series with median-ties dropped (the
    // standard treatment, stated); expected runs 1 + 2n₁n₂/(n₁+n₂) in
    // exact e6 (BIGINT-safe to ~2×10⁶ per side). Median is the exact
    // grid lower median (the ks_drift window shape). The sign-change
    // window rides the per-type series key — the one inherently
    // serial-per-series op; a 100 TB run segments by (type, day) and
    // stitches boundaries.
    "stats_runs_test" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        col("ts_us"), col("event_id"))
      val g = e.groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("m"))
      val wcum = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val med = g.withColumn("cum", sum(col("m")).over(wcum))
        .withColumn("nn",
          sum(col("m")).over(Window.partitionBy(col("event_type"))))
        .filter(col("cum") >= expr("(nn + 1) div 2"))
        .groupBy(col("event_type")).agg(min(col("cents")).as("med"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      e.join(broadcast(med), Seq("event_type"))
        .filter(col("cents") =!= col("med"))
        .withColumn("hi", col("cents") > col("med"))
        .withColumn("prev", lag(col("hi"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(sum(when(col("hi"), 1L).otherwise(0L)).as("n_hi"),
          sum(when(!col("hi"), 1L).otherwise(0L)).as("n_lo"),
          (sum(when(col("prev").isNotNull && col("prev") =!= col("hi"),
            1L).otherwise(0L)) + 1L).as("n_runs"))
        .select(col("event_type"), col("n_hi"), col("n_lo"), col("n_runs"),
          expr("1000000 + (2 * n_hi * n_lo * 1000000) div (n_hi + n_lo)")
            .as("e_runs_e6"))
        .orderBy(col("event_type"))
    }),

    // POISSON-BOOTSTRAP confidence interval for the per-type mean
    // (Chamandy et al. 2012, "Estimating uncertainty for massive data
    // streams" — THE bootstrap at cluster scale): instead of resampling
    // by index (impossible without materializing N draws), every row
    // gets an independent Poisson(1) replication weight per replicate,
    // drawn DETERMINISTICALLY from md5(event_id ":" b) quantized
    // against the Poisson(1) CDF in ppm — so the whole bootstrap is
    // one explode + one grouped agg, single-pass, reproducible, and
    // mirrorable. B = 64 replicates; CI = the 4th/61st order
    // statistics of the replicate means (≈ 5%/95%), ranked inside a
    // B-bounded per-type window. Exact integer means (cents, div);
    // cost is B× the event scan — flat in cluster terms since B is a
    // constant and the explode never shuffles (weights are per-row
    // expressions).
    "stats_bootstrap_ci" -> ((s, dir) => {
      val B = 64
      // spread the md5-heavy replicate fan-out (13 hashes/row) off
      // the single fixture scan task — see Tables.spread
      val e = Tables.spread(Tables.events(s, dir).select(col("event_type"),
        col("event_id"), round(col("value") * 100).cast("long").as("cents")))
      // one md5 yields FIVE independent 6-hex-digit draws (30 of 32
      // hex chars) — replicate b = 5g+o reads digits [1+6o, +6) of
      // md5(id ":" g), and the hash is computed ONCE per (row, g)
      // before the inner explode: 13 hashes per row instead of 64
      val rep = e
        .select(col("event_type"), col("event_id"), col("cents"),
          explode(sequence(lit(0), lit((B + 4) / 5 - 1))).as("g"))
        .withColumn("h", md5(concat(col("event_id").cast("string"),
          lit(":"), col("g").cast("string"))))
        .select(col("event_type"), col("cents"), col("g"), col("h"),
          explode(sequence(lit(0), lit(4))).as("o"))
        .withColumn("b", col("g") * 5 + col("o"))
        .filter(col("b") < B)
        .withColumn("u", expr(
          """CAST(conv(substring(h, 1 + 6 * o, 6), 16, 10) AS BIGINT)
            |% 1000000""".stripMargin))
        // Poisson(1) CDF in ppm: 367879, 735758, 919698, 981011, 996340
        .withColumn("w", expr(
          """CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
            |WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
            |WHEN u < 996340 THEN 4 ELSE 5 END""".stripMargin))
      val means = rep.groupBy(col("event_type"), col("b"))
        .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
        .filter(col("sw") > 0)
        .select(col("event_type"), col("b"), expr("swc div sw").as("mean_b"))
      val rk = means.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("mean_b"), col("b"))))
      val pt = e.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("sum(cents) div count(1)").as("mean_cents"))
      // one conditional agg pulls both order statistics — referencing
      // the ranked frame twice would recompute the B×N explode twice
      val ci = rk.groupBy(col("event_type"))
        .agg(max(when(col("rk") === 4, col("mean_b"))).as("lo_cents"),
          max(when(col("rk") === B - 3, col("mean_b"))).as("hi_cents"))
      pt.join(ci, Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // BAG-OF-LITTLE-BOOTSTRAPS twin (VERDICT r19 #4): the exact entry
    // re-touches every row B=64× through the replicate explode — fine
    // while B·N rows stream through a map-side partial agg, but the
    // 100 TB shape lets the resampling randomness enter at the
    // PARTITION level instead of the row level. ONE scan reduces the
    // corpus to P=256 per-(type, bucket) sufficient statistics
    // (count m, Σcents t); each replicate then draws ONE Poisson(1)
    // multinomial count per bucket — the exact entry's md5→ppm-CDF
    // table, hashed on (type, bucket, replicate), so the per-replicate
    // work is types·P·13 hashes TOTAL, independent of corpus size —
    // and the replicate mean is the count-weighted combination
    // Σ w·t div Σ w·m. This is the resample-clusters bootstrap
    // (Kleiner et al.'s BLB with the subset estimator replaced by its
    // sufficient statistics — exact for the mean), whose brackets
    // converge to the row bootstrap's as P grows; Round20Spec pins the
    // fixture-scale agreement against `stats_bootstrap_ci`. Same
    // output schema as the exact entry, directly comparable.
    "stats_bootstrap_blb" -> ((s, dir) => {
      val B = 64
      val P = 256
      val bkt = Tables.events(s, dir)
        .select(col("event_type"), (col("event_id") % P).as("bk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("bk"))
        .agg(count(lit(1)).as("m"), sum(col("cents")).as("t"))
      val rep = bkt
        .select(col("event_type"), col("bk"), col("m"), col("t"),
          explode(sequence(lit(0), lit((B + 4) / 5 - 1))).as("g"))
        .withColumn("h", md5(concat(col("event_type"), lit(":"),
          col("bk").cast("string"), lit(":"), col("g").cast("string"))))
        .select(col("event_type"), col("m"), col("t"), col("g"), col("h"),
          explode(sequence(lit(0), lit(4))).as("o"))
        .withColumn("b", col("g") * 5 + col("o"))
        .filter(col("b") < B)
        .withColumn("u", expr(
          """CAST(conv(substring(h, 1 + 6 * o, 6), 16, 10) AS BIGINT)
            |% 1000000""".stripMargin))
        .withColumn("w", expr(
          """CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
            |WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
            |WHEN u < 996340 THEN 4 ELSE 5 END""".stripMargin))
      val means = rep.groupBy(col("event_type"), col("b"))
        .agg(sum(col("w") * col("t")).as("swt"),
          sum(col("w") * col("m")).as("swm"))
        .filter(col("swm") > 0)
        .select(col("event_type"), col("b"), expr("swt div swm").as("mean_b"))
      val rk = means.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("mean_b"), col("b"))))
      val pt = bkt.groupBy(col("event_type"))
        .agg(sum(col("m")).as("n"),
          expr("sum(t) div sum(m)").as("mean_cents"))
      val ci = rk.groupBy(col("event_type"))
        .agg(max(when(col("rk") === 4, col("mean_b"))).as("lo_cents"),
          max(when(col("rk") === B - 3, col("mean_b"))).as("hi_cents"))
      pt.join(ci, Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // DELETE-ONE-BUCKET JACKKNIFE CI — the resampling-free companion
    // of the BLB entry over the SAME P=256 bucket sufficient
    // statistics: θ₍ⱼ₎ = leave-bucket-j-out mean (integer cents), the
    // jackknife variance (nb−1)/nb · Σ(θ₍ⱼ₎−θ̄)² evaluated through the
    // exact integer form (nb·Σθ² − (Σθ)²) — no randomness, no hashes,
    // ONE corpus scan then nb-row algebra per type. SE crosses to
    // double only inside sqrt (the r15 parity rule: IEEE sqrt is
    // correctly rounded on both engines); the ±1.96·SE normal-theory
    // brackets complement the bootstrap's order-statistic ones. θ
    // bounds: θ ≤ 10⁶ cents ⇒ nb·Σθ² ≤ 256²·10¹² — inside BIGINT with
    // 10× headroom; past that widen to DECIMAL(38,0).
    "stats_jackknife_ci" -> ((s, dir) => {
      val P = 256
      val bkt = Tables.events(s, dir)
        .select(col("event_type"), (col("event_id") % P).as("bk"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("bk"))
        .agg(count(lit(1)).as("m"), sum(col("cents")).as("t"))
      val tot = bkt.groupBy(col("event_type"))
        .agg(sum(col("m")).as("n"), sum(col("t")).as("tt"),
          count(lit(1)).as("nb"))
      val th = bkt.join(tot, Seq("event_type"))
        .select(col("event_type"),
          expr("(tt - t) div (n - m)").as("th"))
        .groupBy(col("event_type"))
        .agg(sum(col("th")).as("sth"),
          sum(col("th") * col("th")).as("sth2"))
      tot.join(th, Seq("event_type"))
        .withColumn("se", sqrt(
          ((col("nb") - 1) * (col("nb") * col("sth2") -
            col("sth") * col("sth"))).cast("double")) /
          col("nb").cast("double"))
        .select(col("event_type"), col("n"), col("nb"),
          expr("tt div n").as("mean_cents"),
          round(col("se"), 4).as("se_cents"),
          (expr("tt div n") -
            round(lit(1.96) * col("se")).cast("long")).as("lo_cents"),
          (expr("tt div n") +
            round(lit(1.96) * col("se")).cast("long")).as("hi_cents"))
        .orderBy(col("event_type"))
    }),

    // PEARSON CHI-SQUARED test of independence (event_type ×
    // day-of-week) — the categorical complement of the KS/PSI drift
    // pair: "does the type mix depend on the weekday at all?". Each
    // cell's (O−E)²/E is evaluated as the exact rational
    // (O·N − R·C)²·1e6 div (N·R·C) — no float E, no rounding drift.
    // The cell grid is DENSIFIED first (row marginals × column
    // marginals, observed counts left-joined with O coalesced to 0)
    // so a (type, dow) pair with zero observations still contributes
    // its full E = R·C/N term — the grouped count alone would
    // silently drop it and understate χ². dof likewise derives from
    // the marginal tables, not from which cells happened to be
    // observed. The squared numerator reaches (O·N)² ≈ N⁴ so the
    // products run in DECIMAL(38,0) (HUGEINT on the oracle side) —
    // exact to N ≈ 10⁸ rows; past that widen the 1e6 scale down. One
    // grouped count + two marginal aggs broadcast onto the ≤ types×7
    // dense grid; output is one row.
    "stats_chi2_independence" -> ((s, dir) =>
      chi2Report(s, dir)
        .select(col("n_events"),
          ((col("n_types") - 1) * (col("n_dows") - 1)).as("dof"),
          col("chi2_ppm"))),

    // CRAMÉR'S V² — the [0, 1] effect-size normalization of the chi²
    // statistic (V² = χ² / (N·min(r−1, c−1))): "the weekday DOES shift
    // the type mix (χ² says so) — but by how much?". Shares the
    // densified-grid pipeline with the chi² entry verbatim; the square
    // is reported (not V itself) to stay inside the integer-exact
    // discipline — no sqrt, no float. One extra ppm truncation on top
    // of the chi² terms' own (deterministic on both engines).
    "stats_cramers_v2" -> ((s, dir) =>
      chi2Report(s, dir)
        .select(col("n_events"),
          least(col("n_types") - 1, col("n_dows") - 1).as("min_dim"),
          col("chi2_ppm"),
          expr("chi2_ppm div (n_events * least(n_types - 1, n_dows - 1))")
            .as("v2_ppm"))),

    // two-sample KOLMOGOROV-SMIRNOV drift test per series — the
    // distribution-shape complement of the PSI monitor (PSI sees mass
    // move between coarse bins; KS sees any ECDF separation, bins be
    // damned). D = max_v |F_pre(v) − F_post(v)| computed EXACTLY in
    // integers: per distinct value, |cp·n_post − cq·n_pre| over the
    // cum-count window, maxed, then scaled to ppm. Scale bound (the
    // graph_modularity discipline): dmax ≤ n_pre·n_post, so the ppm
    // product dmax·1e6 stays inside BIGINT only while n_pre·n_post ≤
    // ~9.2e12 — about 3M rows per side PER SERIES. Beyond that, widen
    // the window sums and the ppm scaling to DECIMAL(38,0) (exactness
    // preserved; only the final div needs the wide type). The fixture
    // is orders of magnitude inside the bound. One per-series sort
    // window over the DISTINCT value grid, not the raw events
    "stats_ks_drift" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          (expr("ts div 1000") < lit(psiCutUs)).as("is_pre"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("is_pre"), 1L).otherwise(0L)).as("np"),
          sum(when(!col("is_pre"), 1L).otherwise(0L)).as("nq"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = g.groupBy(col("event_type"))
        .agg(sum(col("np")).as("n_pre"), sum(col("nq")).as("n_post"))
      g.withColumn("cp", sum(col("np")).over(w))
        .withColumn("cq", sum(col("nq")).over(w))
        .join(tot, Seq("event_type"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          abs(col("cp") * col("n_post") - col("cq") * col("n_pre")).as("d"))
        .groupBy(col("event_type"), col("n_pre"), col("n_post"))
        .agg(max(col("d")).as("dmax"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          expr("dmax * 1000000 div (n_pre * n_post)").as("ks_ppm"))
        .orderBy(col("event_type"))
    }),

    // CUPED-adjusted A/B means — experimentation analytics: variance
    // reduction with the pre-period covariate (Deng et al.'s CUPED).
    // Everything aggregates to INTEGER per-user (x = pre-period cents,
    // y = post-period cents) and per-variant sums; θ and the adjusted
    // means are computed from those sums at the very end (group-level
    // algebra: mean_adj = (Sy − θ·(Sx − n·x̄))/n), so no float ever
    // crosses a shuffle — the whole metric is deterministic double
    // arithmetic over exact integer inputs
    "events_cuped_ab" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          (expr("ts div 1000") < lit(psiCutUs)).as("is_pre"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("is_pre"), col("cents")).otherwise(0L)).as("x"),
          sum(when(!col("is_pre"), col("cents")).otherwise(0L)).as("y"))
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      val g = perUser.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"))
      val tot = perUser.agg(count(lit(1)).as("tn"), sum(col("x")).as("tsx"),
        sum(col("y")).as("tsy"), sum(col("x") * col("x")).as("tsxx"),
        sum(col("x") * col("y")).as("tsxy"))
      g.crossJoin(broadcast(tot))
        .withColumn("theta6",
          round((col("tn") * col("tsxy") - col("tsx") * col("tsy"))
              .cast("double") /
            (col("tn") * col("tsxx") - col("tsx") * col("tsx"))
              .cast("double"), 6))
        .select(col("variant"), col("n"), col("sx"), col("sy"), col("theta6"),
          round(col("sy").cast("double") / col("n").cast("double"), 4)
            .as("raw_mean_cents"),
          round((col("sy").cast("double") - col("theta6") *
              (col("sx").cast("double") - col("n").cast("double") *
                (col("tsx").cast("double") / col("tn").cast("double")))) /
            col("n").cast("double"), 4).as("adj_mean_cents"))
        .orderBy(col("variant"))
    }),

    // TOST EQUIVALENCE (two one-sided tests) — the question the
    // z-test cannot answer: not "are the arms different?" but "are
    // they provably the SAME within a margin?" — the non-inferiority
    // readout a do-no-harm launch gate needs. Equivalence holds iff
    // the 90% CI of Δ = μ₀−μ₁ lies inside ±δ (δ = 5% of the pooled
    // mean; z=1.645 literal). Same exact per-user integer sums as the
    // power-analysis entry; doubles only in the fixed mirrored final
    // expressions.
    "stats_tost_equivalence" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
        .withColumn("v", (col("user_id") % 2).cast("long"))
      val g = perUser.groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      val a = g.filter(col("v") === 0)
        .select(col("n").as("n0"), col("sy").as("s0"))
      val b = g.filter(col("v") === 1)
        .select(col("n").as("n1"), col("sy").as("s1"))
      val t = perUser.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
        sum(col("y") * col("y")).as("syy"))
      t.crossJoin(broadcast(a)).crossJoin(broadcast(b))
        .withColumn("mu", col("sy").cast("double") / col("n").cast("double"))
        .withColumn("var", (col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double") / (col("n") * (col("n") - 1)).cast("double"))
        .withColumn("delta",
          col("s0").cast("double") / col("n0").cast("double") -
            col("s1").cast("double") / col("n1").cast("double"))
        .withColumn("se", sqrt(col("var") *
          (lit(1.0) / col("n0").cast("double") +
            lit(1.0) / col("n1").cast("double"))))
        .withColumn("margin", lit(0.05) * col("mu"))
        .select(col("n0"), col("n1"),
          round(col("delta"), 4).as("delta_cents"),
          round(col("se"), 4).as("se_cents"),
          round(col("margin"), 4).as("margin_cents"),
          (col("delta") + lit(1.645) * col("se") < col("margin") &&
            col("delta") - lit(1.645) * col("se") > -col("margin"))
            .as("equivalent"))
    }),

    // ONE-WAY ANOVA F — the parametric k-group mean test beside the
    // rank-based Kruskal-Wallis (that one is outlier-immune; this one
    // is the textbook readout when cents are roughly well-behaved).
    // The between/within sum-of-squares decomposition runs entirely on
    // per-group integer triples (n_g, Σy, Σy²): each group's
    // SSW_g = (n_g·Σy² − (Σy)²) div n_g and SSB share
    // s_g² div n_g are FLOORED per group so the cross-group sums are
    // order-independent longs (never a double crossing a shuffle —
    // the sim_dim_stats discipline; the ≤ k lost units are far below
    // either SS). F crosses to double only in the final ratio.
    // Bounds: s_g² ≤ (6e8)² ≈ 3.6e17 at sf0.1 — inside BIGINT; widen
    // to DECIMAL(38,0) past ~10⁹ summed cents per group.
    "stats_anova_f" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"),
          sum(col("y") * col("y")).as("qg"))
      val tot = g.agg(sum(col("ng")).as("n"), sum(col("sg")).as("st"),
        count(lit(1)).as("k"))
      g.select(
          expr("(qg * ng - sg * sg) div ng").as("ssw_g"),
          expr("(sg * sg) div ng").as("ssb_share"))
        .agg(sum(col("ssw_g")).as("ssw"), sum(col("ssb_share")).as("bsum"))
        .crossJoin(broadcast(tot))
        .select(col("k"), col("n"),
          (col("bsum") - expr("(st * st) div n")).as("ssb_floor"),
          col("ssw").as("ssw_floor"))
        .select(col("k"), col("n"), col("ssb_floor"), col("ssw_floor"),
          round((col("ssb_floor") * (col("n") - col("k"))).cast("double") /
            ((col("ssw_floor") * (col("k") - 1)).cast("double")), 4)
            .as("f_stat"))
    }),

    // RANDOMIZATION (PERMUTATION) TEST on the A/B mean difference —
    // the distribution-free significance readout next to the normal-
    // theory z-test: 64 Bernoulli reassignments of the per-user
    // variant (one md5 per user per 32 draws — the bootstrap's
    // hash-slicing trick, so 2 hashes/user total), and the p-value is
    // the fraction of permuted |Δ_b| at least as extreme as the
    // observed |Δ|. The extremity comparison is EXACT integer
    // cross-multiplication — |s0b·n1b − s1b·n0b|·(n0·n1) ≥
    // |s0·n1 − s1·n0|·(n0b·n1b) — no float means ever compared.
    // Magnitude bound: |s·n|·n² ≤ 2e8·10³·10⁶ ≈ 2e17 at the fixture —
    // inside BIGINT; widen to DECIMAL(38,0) past ~10⁴ users. Work is
    // one per-user reduction then 64·users tiny rows through a
    // map-side partial agg — the bootstrap's scale shape.
    "stats_permutation_test" -> ((s, dir) => {
      val B = 64
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
        .withColumn("v", (col("user_id") % 2).cast("long"))
      val obs = perUser.groupBy(col("v"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("sy"))
      val o0 = obs.filter(col("v") === 0)
        .select(col("n").as("n0"), col("sy").as("s0"))
      val o1 = obs.filter(col("v") === 1)
        .select(col("n").as("n1"), col("sy").as("s1"))
      val rep = perUser
        .select(col("user_id"), col("y"),
          explode(sequence(lit(0), lit(B / 32 - 1))).as("g"))
        .withColumn("h", md5(concat(col("user_id").cast("string"),
          lit(":"), col("g").cast("string"))))
        .select(col("y"), col("g"), col("h"),
          explode(sequence(lit(0), lit(31))).as("c"))
        .withColumn("b", col("g") * 32 + col("c"))
        .withColumn("vb", expr(
          "CAST(conv(substring(h, 1 + c, 1), 16, 10) AS BIGINT) % 2"))
      val perm = rep.groupBy(col("b"))
        .agg(sum(when(col("vb") === 0, col("y")).otherwise(0L)).as("s0b"),
          sum(when(col("vb") === 0, 1L).otherwise(0L)).as("n0b"),
          sum(when(col("vb") === 1, col("y")).otherwise(0L)).as("s1b"),
          sum(when(col("vb") === 1, 1L).otherwise(0L)).as("n1b"))
        .filter(col("n0b") > 0 && col("n1b") > 0)
      perm.crossJoin(broadcast(o0)).crossJoin(broadcast(o1))
        .select(col("n0"), col("n1"),
          round((col("s0").cast("double") / col("n0").cast("double")) -
            (col("s1").cast("double") / col("n1").cast("double")), 4)
            .as("delta_obs_cents"),
          when(abs(col("s0b") * col("n1b") - col("s1b") * col("n0b")) *
              (col("n0") * col("n1")) >=
              abs(col("s0") * col("n1") - col("s1") * col("n0")) *
              (col("n0b") * col("n1b")), 1L).otherwise(0L).as("ex"))
        .groupBy(col("n0"), col("n1"), col("delta_obs_cents"))
        .agg(count(lit(1)).as("n_perms"), sum(col("ex")).as("n_extreme"))
        .select(col("n0"), col("n1"), col("delta_obs_cents"),
          col("n_perms"), col("n_extreme"),
          expr("n_extreme * 1000 div n_perms").as("p_x1000"))
    }),

    // EXPERIMENT POWER ANALYSIS — the design-time companion of the
    // CUPED/z-test pair: from the SAME per-user purchase-cents metric
    // and variant split, (a) the minimum detectable effect at α=5%
    // two-sided / 80% power — MDE = (z_{α/2}+z_β)·√(σ²(1/n₀+1/n₁)),
    // constants 1.96/0.84 as literals — and (b) the per-arm sample
    // size needed to detect a 5% relative lift:
    // n = ⌈2σ²(2.8)²/(0.05·μ)²⌉. Everything crosses to double only
    // from exact integer sums (n, Σy, Σy²) in a fixed expression
    // order mirrored verbatim in the oracle, so the report is
    // deterministic; σ² is the unbiased pooled sample variance
    // (n·Σy²−(Σy)²)/(n·(n−1)).
    "events_power_analysis" -> ((s, dir) => {
      val perUser = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      val arms = perUser.groupBy(col("variant")).agg(count(lit(1)).as("na"))
      val n0 = arms.filter(col("variant") === 0).select(col("na").as("n0"))
      val n1 = arms.filter(col("variant") === 1).select(col("na").as("n1"))
      perUser.agg(count(lit(1)).as("n"), sum(col("y")).as("sy"),
          sum(col("y") * col("y")).as("syy"))
        .crossJoin(broadcast(n0)).crossJoin(broadcast(n1))
        .withColumn("mu", col("sy").cast("double") / col("n").cast("double"))
        .withColumn("var", (col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double") /
          (col("n") * (col("n") - 1)).cast("double"))
        .select(col("n"), col("n0"), col("n1"),
          round(col("mu"), 4).as("mean_cents"),
          round(sqrt(col("var")), 4).as("sd_cents"),
          round(lit(2.8) * sqrt(col("var") *
            (lit(1.0) / col("n0").cast("double") +
              lit(1.0) / col("n1").cast("double"))), 4).as("mde_cents"),
          ceil(lit(2.0) * col("var") * lit(2.8) * lit(2.8) /
            (lit(0.05) * col("mu") * (lit(0.05) * col("mu"))))
            .cast("long").as("n_per_arm_5pct"))
    }),

    // two-proportion z-test on conversion (a >$1.50 purchase — the
    // plain-purchase definition converts EVERY fixture user, making
    // the pooled variance zero): the significance readout every A/B
    // dashboard pairs with the means. Counts are exact integers; the
    // z statistic is sqrt-based (IEEE-correctly-rounded in both
    // engines — the r15 parity rule: prefer sqrt over pow) over the
    // pooled proportion, round(·, 6)
    "events_ab_ztest" -> ((s, dir) => {
      val conv = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
            col("value") > 150, 1L).otherwise(0L))
          .as("converted"))
        .withColumn("variant", (col("user_id") % 2).cast("long"))
      val g = conv.groupBy(col("variant"))
        .agg(count(lit(1)).as("n"), sum(col("converted")).as("k"))
      val a = g.filter(col("variant") === 0)
        .select(col("n").as("n0"), col("k").as("k0"))
      val b = g.filter(col("variant") === 1)
        .select(col("n").as("n1"), col("k").as("k1"))
      a.crossJoin(b)
        .select(col("n0"), col("k0"), col("n1"), col("k1"),
          round((col("k0").cast("double") / col("n0").cast("double") -
              col("k1").cast("double") / col("n1").cast("double")) /
            sqrt(((col("k0") + col("k1")).cast("double") /
                (col("n0") + col("n1")).cast("double")) *
              (lit(1.0) - (col("k0") + col("k1")).cast("double") /
                (col("n0") + col("n1")).cast("double")) *
              (lit(1.0) / col("n0").cast("double") +
                lit(1.0) / col("n1").cast("double"))), 6).as("z6"))
    }),

    // cumulative distinct users per hour via the FIRST-SEEN trick: an
    // expanding-window COUNT(DISTINCT) re-scans its whole prefix per
    // bucket (quadratic); min(hour) per user + a running sum of
    // new-user counts is one linear pass — the growth curve every
    // dashboard ships. Hour grain (day would be degenerate: every
    // fixture user is active on day 0); the final window is
    // hour-bounded (~720 rows)
    "events_cumulative_users" -> ((s, dir) => {
      val first = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 3600000000000").as("hour"))
        .groupBy(col("user_id")).agg(min(col("hour")).as("hour"))
      val w = Window.orderBy(col("hour"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      first.groupBy(col("hour")).agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users", sum(col("new_users")).over(w))
        .orderBy(col("hour"))
    }),

    // gaps-and-islands: longest run of CONSECUTIVE active days per
    // user via the classic day − row_number() island key (consecutive
    // days share it, any gap starts a new island) — all-integer, one
    // distinct + one user-keyed window + two grouped aggs
    "events_streaks" -> ((s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("island", col("day") - row_number().over(w))
        .groupBy(col("user_id"), col("island"))
        .agg(count(lit(1)).as("len"))
      islands.groupBy(col("user_id"))
        .agg(sum(col("len")).as("n_active_days"),
          count(lit(1)).as("n_islands"), max(col("len")).as("max_streak"))
        .orderBy(col("user_id"))
    }),

    // robust anomaly detection via MAD (median absolute deviation):
    // the outlier rule that survives the outliers themselves — median
    // and MAD are 50%-breakdown estimators where mean/std (the zscore
    // twin) are 0%. Exact interpolated medians floor-quantized to
    // cents; two grouped passes plus one broadcast-join count pass
    "events_anomaly_mad" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val med = e.groupBy(col("event_type"))
        .agg(floor(expr("percentile(cents, 0.5)")).cast("long").as("med"))
      val dev = e.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), col("med"),
          abs(col("cents") - col("med")).as("absdev"))
      val mad = dev.groupBy(col("event_type"), col("med"))
        .agg(floor(expr("percentile(absdev, 0.5)")).cast("long").as("mad"),
          max(col("absdev")).as("max_absdev"))
      dev.join(broadcast(mad.select(col("event_type").as("t2"), col("mad"))),
          col("event_type") === col("t2"))
        .groupBy(col("event_type"))
        .agg(count(when(col("absdev") > lit(3) * col("mad"), 1)).as("n_anom"))
        .join(mad, Seq("event_type"))
        .select(col("event_type"), col("med"), col("mad"), col("n_anom"),
          col("max_absdev"))
        .orderBy(col("event_type"))
    }),

    // PSI distribution-drift monitor: population stability index of
    // the value distribution, second half of the month vs first, per
    // event type — THE production drift metric behind retrain triggers.
    // Decile edges come from the reference half (floor-quantized cents,
    // so bucket assignment is pure integer compares); each PSI term is
    // (p−q)·ln(p/q) computed as an all-integer product with the ln
    // quantized to ppm — (n1·N2 − n2·N1) and ln(ratio) always share
    // sign, so the truncating div equals floor and terms are ≥ 0 on
    // both engines
    "stats_psi_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        (expr("ts div 1000") < lit(psiCutUs)).as("is_ref"))
      val ref = e.filter(col("is_ref"))
      val cutExprs = (1 to 9).map(i =>
        floor(expr(s"percentile(cents, 0.$i)")).cast("long").as(s"c$i"))
      val cuts = ref.groupBy(col("event_type"))
        .agg(cutExprs.head, cutExprs.tail: _*)
      val bucket = (1 to 9).map(i =>
        when(col("cents") >= col(s"c$i"), 1L).otherwise(0L)).reduce(_ + _)
      val counted = e.join(broadcast(cuts), Seq("event_type"))
        .select(col("event_type"), col("is_ref"), bucket.as("bucket"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(when(col("is_ref"), 1)).as("n1"),
          count(when(!col("is_ref"), 1)).as("n2"))
      val totals = counted.groupBy(col("event_type"))
        .agg(sum(col("n1")).as("big_n1"), sum(col("n2")).as("big_n2"))
      counted.join(totals, Seq("event_type"))
        .filter(col("n1") > 0 && col("n2") > 0)
        .select(col("event_type"), col("big_n1"), col("big_n2"),
          (col("n1") * col("big_n2") - col("n2") * col("big_n1")).as("diff"),
          floor(lit(1000000.0) *
            log((col("n1") * col("big_n2")).cast("double") /
                (col("n2") * col("big_n1")).cast("double")))
            .cast("long").as("ln_ppm"))
        .groupBy(col("event_type"), col("big_n1"), col("big_n2"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(expr("diff * ln_ppm div (big_n1 * big_n2)")).as("psi_ppm"))
        .select(col("event_type"), col("big_n1").as("n_ref"),
          col("big_n2").as("n_cur"), col("n_buckets"), col("psi_ppm"))
        .orderBy(col("event_type"))
    }),

    // ε-band join: count same-type event pairs within ±50 cents. The
    // scale-right plan aggregates to the DISTINCT-value domain first
    // (count per cents), then band-joins values via the bucket +
    // neighbor-bucket trick and weights by count products — candidate
    // volume is bounded by NDV·ε, INVARIANT in row count (the naive
    // row-level band join is quadratic in per-bucket density: 5.8 s at
    // sf0.1 vs 0.5 s for this form, and it only gets worse with N).
    // Same-value pairs are the closed form C(c,2); cross-value pairs
    // counted once via v < w
    "join_band_eps" -> ((s, dir) => {
      val v = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("c"))
      val left = v.select(col("event_type"), col("cents"), col("c"),
          explode(array(lit(-1L), lit(0L), lit(1L))).as("d"))
        .select(col("event_type"), col("cents"), col("c"),
          (expr("cents div 50") + col("d")).as("bucket"))
      val right = v.select(col("event_type").as("t2"),
        col("cents").as("cents2"), col("c").as("c2"),
        expr("cents div 50").as("bucket"))
      val cross = left.join(right,
          left("event_type") === right("t2") &&
          left("bucket") === right("bucket") &&
          right("cents2") > left("cents") &&
          right("cents2") - left("cents") <= 50)
        .select(col("event_type"), (col("c") * col("c2")).as("n"),
          (col("cents2") - col("cents")).as("gap"))
      val same = v.filter(col("c") >= 2)
        .select(col("event_type"),
          expr("c * (c - 1) div 2").as("n"), lit(0L).as("gap"))
      cross.unionAll(same)
        .groupBy(col("event_type"))
        .agg(sum(col("n")).as("n_pairs"),
          sum(col("n") * col("gap")).as("sum_gap"),
          max(col("gap")).as("max_gap"))
        .orderBy(col("event_type"))
    }),

    // equi-depth (decile) binning per event type — the feature-binning
    // twin of the fixed-width agg_histogram: ntile(10) over the
    // deterministic (cents, event_id) order, per-bin count and value
    // range. This is how a training pipeline discretizes a continuous
    // feature so every bucket carries equal mass
    "events_equidepth_bins" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("cents"), col("event_id"))
      Tables.events(s, dir)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bin", ntile(10).over(w).cast("long"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"))
        .orderBy(col("event_type"), col("bin"))
    }),

    // 20-tap dyadic EWMA — the all-integer smoothing filter (weights
    // 2^-k scaled to a BIGINT dot product; one window pass per series)
    "events_ewma" -> ((s, dir) => {
      EventOps.ewmaScaled(Tables.events(s, dir), taps = 20)
        .orderBy(col("event_type"), col("event_id"))
    }),

    // session-level PMI of event-type co-occurrence (integer micro-nat
    // quantization, the BM25-idf trick)
    "events_pmi_cooccur" -> ((s, dir) => {
      EventOps.pmiCooccurrence(Tables.events(s, dir),
          gapUs = 30L * 60 * 1000000)
        .orderBy(col("type_a"), col("type_b"))
    }),

    // latest event per user — CDC log-compaction analog
    "events_latest" -> ((s, dir) => {
      EventOps.latestPerKey(Tables.events(s, dir), "user_id")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .orderBy(col("user_id"))
    }),

    // as-of join: each click matched to the user's latest earlier purchase
    "events_asof_join" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts_us"), col("event_id"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      EventOps.asofJoin(clicks, purchases, "user_id", "ts_us",
          Seq("p_event_id", "p_value"))
        .filter(col("r_p_event_id").isNotNull)
        .select(col("user_id"), col("event_id"), col("r_p_event_id"), col("r_p_value"))
        .orderBy(col("event_id"))
    }),

    // bucketized range join: same-user event pairs within 60 s
    "events_range_join" -> ((s, dir) => {
      EventOps.rangeJoinBucketed(
          Tables.events(s, dir).select(col("user_id"), col("event_id"), col("ts_us")),
          "user_id", maxGapUs = 60L * 1000000)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ordered funnel signup → click → purchase: users reaching each
    // stage (stage i+1 only counts at-or-after stage i's reach time)
    // and the total µs spent converting from the previous stage
    "events_funnel" -> ((s, dir) => {
      val reach = EventOps.funnelReach(Tables.events(s, dir), "user_id",
        "event_type", "ts_us", Seq("signup", "click", "purchase"))
      reach.agg(
          count(col("t1")).as("u1"), count(col("t2")).as("u2"), count(col("t3")).as("u3"),
          coalesce(sum(col("t2") - col("t1")), lit(0L)).as("g2"),
          coalesce(sum(col("t3") - col("t2")), lit(0L)).as("g3"))
        .select(explode(array(
          struct(lit(1L).as("stage"), lit("signup").as("stage_name"),
            col("u1").as("users"), lit(0L).as("sum_gap_us")),
          struct(lit(2L).as("stage"), lit("click").as("stage_name"),
            col("u2").as("users"), col("g2").as("sum_gap_us")),
          struct(lit(3L).as("stage"), lit("purchase").as("stage_name"),
            col("u3").as("users"), col("g3").as("sum_gap_us")))).as("r"))
        .select("r.*")
        .orderBy(col("stage"))
    }),

    // analytics capstone: anomaly, gap-filled-window, and transition
    // rollups composed into ONE per-type health report — a single
    // Catalyst plan proving the operators interoperate (the event twin
    // of pipeline_end_to_end)
    "events_capstone" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val anomalies = EventOps.zscoreFlags(e, "event_type",
          round(col("value") * 100).cast("long"), z = 2.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"))
      val windows = EventOps.resampleTumbling(e, seconds = 600)
        .groupBy(col("event_type"))
        .agg(sum(when(col("n") > 0, 1L).otherwise(0L)).as("n_windows_active"),
          sum(when(col("n") === 0, 1L).otherwise(0L)).as("n_windows_empty"))
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val trans = e.withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
      val outb = trans.groupBy(col("prev_type").as("event_type"))
        .agg(count(lit(1)).as("n_outbound"))
      val inb = trans.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_inbound"))
      anomalies.join(windows, Seq("event_type"))
        .join(outb, Seq("event_type")).join(inb, Seq("event_type"))
        .orderBy(col("event_type"))
    }),

    // daily-cohort retention matrix: users grouped by first-event day,
    // counted on each later day they were active
    "events_retention" -> ((s, dir) => {
      EventOps.retentionMatrix(Tables.events(s, dir), "user_id", "ts_us")
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // INTER-ARRIVAL distribution: time between a user's consecutive
    // events of the same type — the number that justifies the
    // sessionize gap threshold and feeds capacity planning. One lag
    // window over the log's natural (user, type) partitioning (never
    // a global per-type series — that partition skews at volume);
    // exact-integer floored percentiles (the winsorized discipline:
    // floor kills low-bit interpolation drift), mean via div.
    "events_interarrival" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"),
          col("event_id"))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_gaps"),
          floor(expr("percentile(gap_us, 0.5)")).cast("long").as("p50_us"),
          floor(expr("percentile(gap_us, 0.9)")).cast("long").as("p90_us"),
          floor(expr("percentile(gap_us, 0.99)")).cast("long").as("p99_us"),
          expr("sum(gap_us) div count(1)").as("mean_us"))
        .orderBy(col("event_type"))
    }),

    // DORMANCY / REACTIVATION: users who went quiet ≥ 7 days and came
    // back — the churn-return segment growth teams target (distinct
    // from retention, which only sees presence per offset, not the
    // gap structure). Per user: active-day count and the LONGEST gap
    // between consecutive active days (one lag window over the
    // user-keyed distinct-day grid); summary row with the
    // reactivated-user ppm and the worst observed dormancy.
    "events_dormancy" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_sec div 86400").as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      val g = du
        .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          coalesce(max(col("gap")), lit(0L)).as("max_gap"))
      g.agg(count(lit(1)).as("n_users"),
          sum(when(col("max_gap") >= 7, 1L).otherwise(0L))
            .as("n_reactivated"),
          max(col("max_gap")).as("worst_gap_days"))
        .select(col("n_users"), col("n_reactivated"),
          col("worst_gap_days"),
          expr("n_reactivated * 1000000 div n_users")
            .as("reactivated_ppm"))
    }),

    // BOT-FILTER RULES — the abuse screen a behavioral corpus passes
    // before its text feeds training (the user-level analog of the
    // text_c4_rules document screen): per user, sustained event rate,
    // worst single-hour burst, and night-hours share, each against a
    // fixed threshold, with ≥ 2 of 3 flags marking a suspect. All
    // integer ratios (rate ×100, night share in ppm); one groupBy per
    // signal over user-keyed partials — no windows, no per-event
    // state, so the audit is one shuffle at any scale.
    "events_bot_rules" -> ((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("ts_sec div 3600").as("hour"),
        expr("ts_sec div 86400").as("day"))
      val byUser = e.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("day")).as("active_days"),
          sum(when(col("hour") % 24 < 6, 1L).otherwise(0L)).as("n_night"))
      val burst = e.groupBy(col("user_id"), col("hour"))
        .agg(count(lit(1)).as("nh"))
        .groupBy(col("user_id")).agg(max(col("nh")).as("max_hour_burst"))
      byUser.join(burst, Seq("user_id"))
        .select(col("user_id"), col("n_events"), col("active_days"),
          expr("n_events * 100 div active_days").as("rate_x100"),
          col("max_hour_burst"),
          expr("n_night * 1000000 div n_events").as("night_ppm"))
        .withColumn("rate_flag", col("rate_x100") >= 300L)
        .withColumn("burst_flag", col("max_hour_burst") >= 3L)
        .withColumn("night_flag", col("night_ppm") >= 500000L)
        .withColumn("bot_suspect",
          (when(col("rate_flag"), 1).otherwise(0) +
            when(col("burst_flag"), 1).otherwise(0) +
            when(col("night_flag"), 1).otherwise(0)) >= 2)
        .orderBy(col("user_id"))
    }),

    // DAU/WAU/MAU + STICKINESS: rolling distinct-user engagement — the
    // product-analytics headline numbers. Sliding DISTINCT can't ride
    // a window frame, so the standard shape is: pre-aggregate to the
    // (day, user) DISTINCT grid (the one real shuffle, data-sized),
    // then one day-grid × trailing-28d range join (grid is
    // calendar-bounded, broadcast side) with conditional distincts for
    // the 7d/28d horizons in a single agg. Stickiness = DAU/MAU ppm.
    // The range join re-touches each (day, user) row up to 28× — the
    // EXACT form's honest cost; the 100 TB path is the sketch twin
    // below (`events_dau_wau_mau_hll`), which merges 28 kilobyte-sized
    // per-day HLL sketches per output day instead.
    "events_dau_wau_mau" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(expr("ts_sec div 86400").as("day"), col("user_id"))
        .distinct()
      val days = du.select(col("day")).distinct()
      val dau = du.groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val r = broadcast(days.as("g"))
        .join(du.as("u"),
          col("u.day").between(col("g.day") - 27, col("g.day")))
        .groupBy(col("g.day"))
        .agg(countDistinct(when(col("u.day") >= col("g.day") - 6,
          col("u.user_id"))).as("wau"),
          countDistinct(col("u.user_id")).as("mau"))
        .select(col("g.day").as("day"), col("wau"), col("mau"))
      dau.join(r, Seq("day"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          expr("dau * 1000000 div mau").as("stickiness_ppm"))
        .orderBy(col("day"))
    }),

    // ...the SKETCH twin (VERDICT r19 #3): ONE re-aggregatable HLL
    // sketch per day (the agg_hll_union property), so each output
    // day's WAU/MAU is a merge of ≤ 7/28 kilobyte-sized sketches
    // instead of the exact form's 28× re-touch of every (day, user)
    // row — per-day sketch-merge is the 100 TB rollup shape (the
    // trailing windows never re-read user rows; the daily sketch table
    // is D rows total and the merge is calendar-bounded). Error
    // contract (the agg_approx_quantile discipline): lgConfigK=12
    // HLL++ keeps relative error ≈ 1.6% ≪ the 15% gate tolerance; the
    // exact DAU and the exact-window WAU/MAU ride along hash-matched
    // as ground truth — at fixture scale the audit is affordable, at
    // 100 TB only the sketch path runs and the tolerance booleans are
    // the validation-time audit.
    "events_dau_wau_mau_hll" -> ((s, dir) => {
      val du = Tables.events(s, dir)
        .select(expr("ts_sec div 86400").as("day"), col("user_id"))
        .distinct()
      val daily = du.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("dau"))
      val est = broadcast(daily.select(col("day")).as("g"))
        .join(daily.select(col("day").as("d2"), col("sk")),
          col("d2").between(col("g.day") - 27, col("g.day")))
        .groupBy(col("g.day").as("day"))
        .agg(hll_sketch_estimate(hll_union_agg(
            when(col("d2") >= col("g.day") - 6, col("sk")))).as("wau_est"),
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("mau_est"))
      val exact = broadcast(daily.select(col("day")).as("g"))
        .join(du.as("u"),
          col("u.day").between(col("g.day") - 27, col("g.day")))
        .groupBy(col("g.day").as("day"))
        .agg(countDistinct(when(col("u.day") >= col("g.day") - 6,
          col("u.user_id"))).as("wau"),
          countDistinct(col("u.user_id")).as("mau"))
      daily.select(col("day"), col("dau"))
        .join(exact, Seq("day")).join(est, Seq("day"))
        .select(col("day"), col("dau"), col("wau"), col("mau"),
          (abs(col("wau_est") - col("wau")).cast("double") /
            col("wau") <= 0.15).as("wau_within_tol"),
          (abs(col("mau_est") - col("mau")).cast("double") /
            col("mau") <= 0.15).as("mau_within_tol"))
        .orderBy(col("day"))
    }),

    // COHORT LTV CURVES: cumulative purchase revenue per signup cohort
    // by day offset, per-user — the "when does a cohort pay back?"
    // complement of the user-count retention matrix. One cohort join
    // (user-keyed), one day²-bounded cumulative window per cohort,
    // sizes broadcast back; exact integer cents (values are
    // non-negative by fixture audit, so plain div is floor here).
    "events_cohort_ltv" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), expr("ts_sec div 86400").as("day"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L)
            .as("cents"))
      val cohort = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = cohort.groupBy(col("cohort_day"))
        .agg(count(lit(1)).as("cohort_users"))
      val rev = e.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"),
          (col("day") - col("cohort_day")).as("day_offset"))
        .agg(sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy(col("cohort_day"))
        .orderBy(col("day_offset"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      rev.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("cohort_users"),
          col("rev_cents"), col("cum_rev_cents"),
          expr("cum_rev_cents div cohort_users").as("ltv_cents"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // MANN-WHITNEY U rank-sum test pre/post the PSI cut — the
    // location-shift drift test beside KS's any-shape test, EXACT in
    // integers including ties: on the distinct-value grid, twice the
    // average rank of a tie group is (2·cum − m + 1) (an integer), so
    // 2R and the U statistics 2U stay in BIGINT with zero float rank
    // arithmetic. Same distinct-grid window shape (and the same
    // n_pre·n_post ≲ 9e12 BIGINT bound, widen-to-DECIMAL path) as
    // stats_ks_drift.
    "stats_mann_whitney" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          (expr("ts div 1000") < lit(psiCutUs)).as("is_pre"))
        .groupBy(col("event_type"), col("cents"))
        .agg(sum(when(col("is_pre"), 1L).otherwise(0L)).as("np"),
          sum(when(!col("is_pre"), 1L).otherwise(0L)).as("nq"))
        .withColumn("m", col("np") + col("nq"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.withColumn("cum", sum(col("m")).over(w))
        .groupBy(col("event_type"))
        .agg(sum(col("np")).as("n_pre"), sum(col("nq")).as("n_post"),
          sum(col("np") * (col("cum") * 2 - col("m") + 1)).as("r2_pre"))
        .select(col("event_type"), col("n_pre"), col("n_post"),
          (col("r2_pre") - col("n_pre") * (col("n_pre") + 1))
            .as("u2_pre"),
          (col("n_pre") * col("n_post") * 2 -
            (col("r2_pre") - col("n_pre") * (col("n_pre") + 1)))
            .as("u2_post"))
        .orderBy(col("event_type"))
    }),

    // FREQUENT CONTIGUOUS 3-SEQUENCES of per-user event types — the
    // order-2 extension of the Markov matrix (sequence mining's
    // bread-and-butter: "which three-step paths dominate?"). Two lead
    // windows over the log's natural user partitioning, one
    // types³-bounded count fold, support in exact ppm of all observed
    // triples; top-20 via TakeOrderedAndProject.
    "events_frequent_sequences" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val tri = Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type").as("t1"))
        .withColumn("t2", lead(col("t1"), 1).over(w))
        .withColumn("t3", lead(col("t1"), 2).over(w))
        .filter(col("t2").isNotNull && col("t3").isNotNull)
        .groupBy(col("t1"), col("t2"), col("t3"))
        .agg(count(lit(1)).as("n"))
      val tot = tri.agg(sum(col("n")).as("nt"))
      tri.crossJoin(broadcast(tot))
        .select(col("t1"), col("t2"), col("t3"), col("n"),
          expr("n * 1000000 div nt").as("support_ppm"))
        .orderBy(col("n").desc, col("t1"), col("t2"), col("t3"))
        .limit(20)
    }),

    // WEIGHT OF EVIDENCE / INFORMATION VALUE (the credit-scoring
    // standard for "how predictive is this categorical of the bad
    // outcome?"): per day-of-week, WoE = ln(p_good/p_bad) and the IV
    // addend (p_good − p_bad)·WoE, each quantized floor(1e6·…) from
    // EXACT integer counts through one identical double expression on
    // both engines (the mix-entropy discipline). Label = 'error'
    // events; one grouped count + broadcast totals, 7-row output.
    "stats_woe_iv" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .select(expr("((ts_sec div 86400) + 4) % 7").as("dow"),
          (col("event_type") === "error").as("bad"))
        .groupBy(col("dow"))
        .agg(sum(when(!col("bad"), 1L).otherwise(0L)).as("good"),
          sum(when(col("bad"), 1L).otherwise(0L)).as("nbad"))
      val tot = g.agg(sum(col("good")).as("gt"), sum(col("nbad")).as("bt"))
      g.crossJoin(broadcast(tot))
        .select(col("dow"), col("good"), col("nbad"),
          expr("""CASE WHEN good = 0 OR nbad = 0 THEN NULL
            |ELSE CAST(floor(1000000 * ln((CAST(good AS DOUBLE) * bt) /
            |  (CAST(nbad AS DOUBLE) * gt))) AS BIGINT) END""".stripMargin)
            .as("woe_e6"),
          expr("""CASE WHEN good = 0 OR nbad = 0 THEN NULL
            |ELSE CAST(floor(1000000 *
            |  (CAST(good AS DOUBLE) / gt - CAST(nbad AS DOUBLE) / bt) *
            |  ln((CAST(good AS DOUBLE) * bt) /
            |     (CAST(nbad AS DOUBLE) * gt))) AS BIGINT) END""".stripMargin)
            .as("iv_term_e6"))
        .orderBy(col("dow"))
    }),

    // ENTROPY RATE of the behavioral Markov chain — how predictable is
    // the next action given the last one? H = −Σᵢⱼ p(i,j)·ln p(j|i)
    // over the empirical transition counts (the one-number
    // predictability summary on top of events_markov; H → 0 means
    // deterministic behavior, H → ln(types) means no signal). Each
    // types²-bounded cell quantizes floor(1e6·(n/N)·(−ln(n/Rᵢ))) from
    // exact BIGINT counts through one identical double expression.
    "events_entropy_rate" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
      val row = pairs.groupBy(col("event_type")).agg(sum(col("n")).as("rn"))
      val tot = pairs.agg(sum(col("n")).as("nt"))
      pairs.join(broadcast(row), Seq("event_type"))
        .crossJoin(broadcast(tot))
        .select(col("nt"),
          expr("""CAST(floor(1000000 * (CAST(n AS DOUBLE) / nt) *
            |(-ln(CAST(n AS DOUBLE) / rn))) AS BIGINT)""".stripMargin)
            .as("term"))
        .agg(max(col("nt")).as("n_transitions"),
          count(lit(1)).as("n_cells"),
          sum(col("term")).as("entropy_rate_e6"))
    }),

    // KAPLAN-MEIER survival estimate (Kaplan & Meier, JASA 1958) of
    // time-to-first-purchase with ADMINISTRATIVE right-censoring at a
    // 5-day horizon — the "conversion within horizon" survival curve
    // (users who never purchase inside the window are censored at the
    // horizon, NOT dropped: that's the whole point of KM vs a naive
    // ECDF). S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) evaluated as an exact
    // integer recurrence: s ← (s·(nᵢ−dᵢ)) div nᵢ from s₀ = 1e6, so
    // the curve hash-gates with no float product. The per-day KM
    // table is horizon-bounded (≤ 6 rows); the sequential product
    // folds over ONE collected-to-array row via the `aggregate` HOF —
    // never a driver collect, and s·n ≤ 1e6·|users| stays inside
    // BIGINT to 9×10¹² users. Risk sets via one suffix-sum window
    // over the horizon-bounded day grid.
    "events_survival_km" -> ((s, dir) => {
      val horizon = 5L
      val e = Tables.events(s, dir)
      val fu = e.groupBy(col("user_id")).agg(min(col("ts_us")).as("fu"))
      val pu = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("pu"))
      val tconv = expr("(pu - fu) div 86400000000")
      val obs = fu.join(pu, Seq("user_id"), "left")
        .select(
          when(col("pu").isNotNull && tconv <= horizon, tconv)
            .otherwise(lit(horizon)).as("t"),
          (col("pu").isNull || tconv > horizon).as("cens"))
      val grp = obs.groupBy(col("t")).agg(
        count(lit(1)).as("n_t"),
        sum(when(!col("cens"), 1L).otherwise(0L)).as("d"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("c"))
      // suffix sum = at-risk count; unpartitioned window over the
      // horizon-bounded (≤ 6-row) day grid, never the raw events
      val w = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val steps = grp.withColumn("n", sum(col("n_t")).over(w))
        .filter(col("d") > 0)
      steps
        .agg(sort_array(collect_list(
          struct(col("t"), col("d"), col("c"), col("n")))).as("a"))
        .select(explode(expr(
          """aggregate(a,
            |named_struct('s', CAST(1000000 AS BIGINT),
            |  'o', CAST(array() AS
            |    array<struct<t:bigint,d:bigint,c:bigint,n:bigint,s:bigint>>)),
            |(acc, x) -> named_struct(
            |  's', (acc.s * (x.n - x.d)) div x.n,
            |  'o', array_append(acc.o, named_struct('t', x.t, 'd', x.d,
            |    'c', x.c, 'n', x.n, 's', (acc.s * (x.n - x.d)) div x.n))),
            |acc -> acc.o)""".stripMargin)).as("r"))
        .select(col("r.t").as("t_days"), col("r.n").as("n_risk"),
          col("r.d").as("n_death"), col("r.c").as("n_censored"),
          col("r.s").as("s_ppm"))
        .orderBy(col("t_days"))
    }),

    // first-order MARKOV transition matrix over per-user event
    // sequences (r19): P(next_type | prev_type) in exact ppm — the
    // behavioral-model summary behind next-action prediction and
    // funnel-shape drift monitoring. One user-partitioned lead window
    // (the event log's natural partitioning), then a types²-bounded
    // count fold — near-metadata output after one shuffle.
    "events_markov" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type").as("prev_type"), col("next_type"),
          col("n"))
      val tot = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("row_n"))
      pairs.join(tot, Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("n * 1000000 div row_n").as("p_ppm"))
        .orderBy(col("prev_type"), col("next_type"))
    }),

    // STATIONARY DISTRIBUTION of the Markov transition matrix — "where
    // does a user's session mix settle long-run?", the fixed point the
    // transitions/entropy-rate entries only describe locally. Sixteen
    // unrolled power-iteration steps over the k×k transition frame
    // (k = #types — metadata-sized; the heavy lift is the ONE
    // transition-count pass events_markov already pays): π'[j] =
    // Σᵢ ⌊π[i]·n_ij / row_nᵢ⌋, each term floored in ppm BEFORE the sum
    // (deterministic integer arithmetic, mirrored verbatim) — the
    // total drifts a few ppm below 10⁶ from the floors, reported
    // as-is rather than renormalized (Round20Spec pins the mass
    // inside the 16·k² floor tolerance and the full state support).
    // 16 steps ≫ the fixture chain's mixing time.
    "events_markov_stationary" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val pairs = Tables.events(s, dir)
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type").as("prev_type"), col("next_type"),
          col("n"))
      val tot = pairs.groupBy(col("prev_type")).agg(sum(col("n")).as("row_n"))
      // the transition matrix is MODEL-sized (|types|² rows) — pin it
      // as an eager local leaf (the bigramLogProb collect class): a
      // plan tree has no cross-reference sharing, so each of the 16
      // power iterations below otherwise embeds — and re-executes —
      // the whole events window+agg lineage (16 corpus passes;
      // measured r20: 2.9 s warm → the leaf removes all but one)
      val pmRaw = pairs.join(tot, Seq("prev_type"))
      // the "model-sized" contract made loud (ADVICE r20): |types|² must
      // stay driver-bounded at ANY corpus scale — event_type is a closed
      // enum (the fixture carries a handful; a schema where it is
      // unbounded needs the two-level fold, not this leaf). 1e6 rows of
      // (2 strings, 2 longs) ≈ tens of MB — far under driver headroom,
      // and far past any plausible type-enum size. The collect itself
      // is bounded: one row past the bound is enough to refuse.
      val pmRows = pmRaw.limit(1000001).collect()
      require(pmRows.length <= 1000000,
        s"events_markov_stationary: |types|^2 = ${pmRows.length} exceeds " +
          "the model-sized collect bound — event_type is not enum-like here")
      val pm = s.createDataFrame(
        java.util.Arrays.asList(pmRows: _*), pmRaw.schema)
      val states = pm.select(col("prev_type").as("state")).distinct()
      var pi = states
        .crossJoin(broadcast(states.agg(count(lit(1)).as("k"))))
        .select(col("state"), expr("1000000 div k").as("pi"))
      for (_ <- 1 to 16) {
        pi = pm.join(pi, col("prev_type") === col("state"))
          .select(col("next_type").as("state"),
            expr("pi * n div row_n").as("term"))
          .groupBy(col("state")).agg(sum(col("term")).as("pi"))
      }
      pi.select(col("state"), col("pi").as("pi_ppm")).orderBy(col("state"))
    }),

    // per-type linear trend of value over time. regr_slope's running
    // double accumulation is reduction-order-dependent (not
    // engine-portable), so the slope is derived from EXACT integer sums
    // (x in seconds since the fixture epoch, y in cents) with the
    // closed-form (n·Σxy − Σx·Σy)/(n·Σx² − Σx²) evaluated in double at
    // the very end — identical bits on both engines. Per-row products
    // stay far inside long; only the final scalar products need double.
    "events_regression" -> ((s, dir) => {
      val x = (col("ts_sec") - lit(1704067200L))
      val y = round(col("value") * 100).cast("long")
      Tables.events(s, dir)
        .select(col("event_type"), x.as("x"), y.as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n"),
          floor((
            (col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
            (col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            lit(86400.0) * lit(10000.0)).cast("double"))
            // Spark floor(double) → LONG, DuckDB's → DOUBLE; align
            .cast("double").as("slope_cents_per_day_e4"))
        .orderBy(col("event_type"))
    }),

    // per-type 2σ outliers (value in exact integer cents), rolled up
    "events_anomaly_zscore" -> ((s, dir) => {
      EventOps.zscoreFlags(Tables.events(s, dir), "event_type",
          round(col("value") * 100).cast("long"), z = 2.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("is_anom"), 1L).otherwise(0L)).as("n_anomalies"),
          max(when(col("is_anom"), col("v_c"))).as("max_anom_cents"))
        .orderBy(col("event_type"))
    }),

    // time-RANGE window frame: per event, count and exact cents sum of
    // the same user's events in the preceding hour (excluding self) —
    // the moving-aggregate flavor rowsBetween can't express when event
    // spacing is irregular
    "events_moving_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600L * 1000000, -1)
      Tables.events(s, dir)
        .withColumn("v_c", round(col("value") * 100).cast("long"))
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_prev_hour"),
          coalesce(sum(col("v_c")).over(w), lit(0L)).as("sum_prev_hour_cents"))
        .orderBy(col("event_id"))
    }),

    // first-order transition matrix: counts of consecutive
    // (prev_type → type) pairs per user — the Markov-chain view of the
    // event log (one user-keyed window, dimension²-sized output)
    "events_transitions" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("prev_type"), col("event_type"))
    }),

    // multi-touch ATTRIBUTION: each purchase's cents credited to the
    // user's FIRST-touch and LAST-touch preceding non-purchase event
    // type (the two canonical single-touch models; position-based and
    // decay models are weighted mixes of the same window scaffolding).
    // One user-partitioned window pass, two touch-keyed aggs —
    // attribution at 100 TB is exactly a sessionize-shaped shuffle
    "events_attribution" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type") =!= "purchase", col("event_type"))
      val p = Tables.events(s, dir)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("ft", first(touch, ignoreNulls = true).over(byUser))
        .withColumn("lt", last(touch, ignoreNulls = true).over(byUser))
        .filter(col("event_type") === "purchase" && col("lt").isNotNull)
      val f = p.groupBy(col("ft").as("touch_type"))
        .agg(count(lit(1)).as("n_first"), sum(col("cents")).as("first_cents"))
      val l = p.groupBy(col("lt").as("touch_type"))
        .agg(count(lit(1)).as("n_last"), sum(col("cents")).as("last_cents"))
      f.join(l, Seq("touch_type"), "full_outer")
        .select(col("touch_type"),
          coalesce(col("n_first"), lit(0L)).as("n_first"),
          coalesce(col("first_cents"), lit(0L)).as("first_cents"),
          coalesce(col("n_last"), lit(0L)).as("n_last"),
          coalesce(col("last_cents"), lit(0L)).as("last_cents"))
        .orderBy(col("touch_type"))
    }),

    // previous/next-event deltas per user — the lag/lead window family
    "events_lag_lead" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("v_c", round(col("value") * 100).cast("long"))
        .select(col("user_id"), col("event_id"), col("v_c"),
          lag(col("v_c"), 1).over(byUser).as("prev_cents"),
          lead(col("v_c"), 1).over(byUser).as("next_cents"),
          (col("v_c") - coalesce(lag(col("v_c"), 1).over(byUser), col("v_c")))
            .as("delta_cents"))
        .orderBy(col("event_id"))
    }),

    // PEAK DETECTION over the 10-minute count series per type — strict
    // local maxima with GAP-AWARE neighbors: an absent adjacent window
    // is a real observation of 0 (the densification lesson on the
    // window grid, applied without materializing it — the lag/lead is
    // taken on the observed grid and zeroed when the neighbor is more
    // than one window away or beyond the series boundary). Reports the
    // peak census and the highest peak (earliest window on ties) per
    // type — the "when did this series spike" primitive under the
    // anomaly/CUSUM monitors. One grouped count + one sort window.
    "events_peak_detection" -> ((s, dir) => {
      val agg = Tables.events(s, dir)
        .select(col("event_type"),
          (col("ts_us") - col("ts_us") % PeakW).as("ws"))
        .groupBy(col("event_type"), col("ws"))
        .agg(count(lit(1)).as("n"))
      peakReport(agg)
    }),

    // LJUNG–BOX portmanteau test per series — Q = n(n+2)·Σ ρ_k²/(n−k)
    // over lags 1..3 of the hourly value series: the ONE-NUMBER
    // white-noise verdict the per-lag autocorr table spreads over k
    // rows (Q ≫ χ²(k) ⇒ the series is autocorrelated and the i.i.d.
    // assumptions behind the z-score monitors are void). ρ_k is the
    // same exact-DECIMAL Pearson as events_autocorr, ROUNDED to 6 dp
    // BEFORE squaring — both engines fold identical doubles from
    // identical integers, one terminal rounding.
    "stats_ljung_box" -> ((s, dir) => {
      val h = Tables.events(s, dir).select(col("event_type"),
          expr("ts_us div 3600000000").as("hr"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents")).cast("decimal(19,0)").as("x"))
      val nh = h.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hours"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      def lagRows(k: Int) = h
        .withColumn("xp", lag(col("x"), k).over(w))
        .filter(col("xp").isNotNull)
        .select(col("event_type"), lit(k.toLong).as("lag"),
          col("x"), col("xp"))
      def dbl(c: String) = col(c).cast("double")
      (1 to 3).map(lagRows).reduce(_ unionAll _)
        .groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x")).as("sx"), sum(col("xp")).as("sp"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("xp") * col("xp")).as("spp"),
          sum(col("x") * col("xp")).as("sxp"))
        .select(col("event_type"), col("lag"),
          round((dbl("n") * dbl("sxp") - dbl("sx") * dbl("sp")) /
            (sqrt(dbl("n") * dbl("sxx") - dbl("sx") * dbl("sx")) *
              sqrt(dbl("n") * dbl("spp") - dbl("sp") * dbl("sp"))), 6)
            .as("rho"))
        .join(broadcast(nh), Seq("event_type"))
        .select(col("event_type"), col("n_hours"),
          expr("rho * rho / (CAST(n_hours AS DOUBLE) - lag)").as("term"))
        .groupBy(col("event_type"), col("n_hours"))
        .agg(count(lit(1)).as("k_lags"), sum(col("term")).as("sterm"))
        .select(col("event_type"), col("n_hours"), col("k_lags"),
          expr("""round(CAST(n_hours AS DOUBLE)
            * (CAST(n_hours AS DOUBLE) + 2) * sterm, 4)""").as("q_lb"))
        .orderBy(col("event_type"))
    }),

    // QUANTILE DRIFT per series — pre/post the PSI cut, the p50/p90
    // read at explicit ceil-ranks on each side and their signed deltas
    // in cents: the ACTIONABLE drift number ("p90 moved +412¢") that
    // KS (any separation), PSI (bin mass) and Cohen's d (pooled-σ
    // units) all hide. Rank semantics spelled out on both engines
    // (the tukey discipline); one sort window per (type, half).
    "stats_quantile_drift" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"),
          when(expr("ts div 1000") < lit(psiCutUs), "pre").otherwise("post")
            .as("half"))
      val rn = Window.partitionBy(col("event_type"), col("half"))
        .orderBy(col("cents"))
      val q = e.withColumn("rn", row_number().over(rn))
        .join(e.groupBy(col("event_type"), col("half"))
          .agg(count(lit(1)).as("n")), Seq("event_type", "half"))
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("(9 * n + 9) div 10"))
        .groupBy(col("event_type"), col("half"))
        .agg(max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
            .as("p50"),
          max(when(col("rn") === expr("(9 * n + 9) div 10"), col("cents")))
            .as("p90"))
      val pre = q.filter(col("half") === "pre")
        .select(col("event_type"), col("p50").as("p50_pre"),
          col("p90").as("p90_pre"))
      val post = q.filter(col("half") === "post")
        .select(col("event_type"), col("p50").as("p50_post"),
          col("p90").as("p90_post"))
      pre.join(post, Seq("event_type"))
        .select(col("event_type"), col("p50_pre"), col("p50_post"),
          (col("p50_post") - col("p50_pre")).as("p50_delta_cents"),
          col("p90_pre"), col("p90_post"),
          (col("p90_post") - col("p90_pre")).as("p90_delta_cents"))
        .orderBy(col("event_type"))
    }),

    // BROWN–FORSYTHE (median-centered Levene) test — equality of
    // SPREAD across the k types, the scale complement of
    // Kruskal-Wallis/Mann-Whitney's location tests (a monitor that
    // only watches location misses a variance blow-up entirely).
    // z = |x − median_g| with the group median read at the explicit
    // ceil-rank (n+1) div 2 (the tukey discipline — no cross-engine
    // quantile trust), then the one-way F over z as the exact scaled
    // rational F_ppm = (N−k)·SSB_L·1e6 div ((k−1)·SSW_L) where the
    // quadratic sums carry an L = 1e3 per-group scale (one truncating
    // division per group, identical on both engines; L is sized so
    // the per-group quotient s_g²·L/n_g stays inside BIGINT at
    // z ≤ 5e4, n_g ≤ 1e9). One sort window + two k-row aggs.
    "stats_levene_bf" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("x"))
      val rn = Window.partitionBy(col("event_type")).orderBy(col("x"))
      val med = e.withColumn("rn", row_number().over(rn))
        .join(e.groupBy(col("event_type")).agg(count(lit(1)).as("cnt")),
          Seq("event_type"))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("x").as("med"))
      val z = e.join(broadcast(med), Seq("event_type"))
        .select(col("event_type"), abs(col("x") - col("med")).as("z"))
      val g = z.groupBy(col("event_type"))
        .agg(count(lit(1)).as("ng"), sum(col("z")).as("sg"),
          sum(expr("CAST(z AS DECIMAL(38,0)) * z")).as("qg"))
        .select(col("ng"), col("sg"), col("qg"),
          expr("(CAST(sg AS DECIMAL(38,0)) * sg * 1000) div ng").as("ag"))
      g.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
          sum(col("sg")).as("s"), sum(col("qg")).as("q"),
          sum(col("ag")).as("a"))
        .select(col("n"), col("k"), (col("k") - 1).as("dof1"),
          (col("n") - col("k")).as("dof2"),
          expr("""CAST((CAST(n AS DECIMAL(38,0)) - k)
            * (a - (CAST(s AS DECIMAL(38,0)) * s * 1000) div n) * 1000000
            div ((CAST(k AS DECIMAL(38,0)) - 1)
              * (CAST(q AS DECIMAL(38,0)) * 1000 - a)) AS BIGINT)""")
            .as("f_ppm"))
    }),

    // MOMENT PROFILE + JARQUE–BERA normality test per type — skewness
    // g1 = m3/m2^1.5, excess kurtosis g2 = m4/m2² − 3, and
    // JB = n/6·(g1² + g2²/4), the cheap "is this metric even remotely
    // Gaussian?" gate that decides whether the z-score monitors
    // upstream are meaningful. Power sums Σx..Σx⁴ accumulate as EXACT
    // DECIMAL(38,0) (HUGEINT on the oracle — x⁴ ≤ 5.8e18 per row, so
    // exact to ~10¹³ rows); the central-moment combination happens
    // ONCE per type in doubles over those exact integers with a
    // single terminal rounding (the corr-matrix float discipline:
    // identical expression trees on identical integer inputs).
    "stats_moments_profile" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("x"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("s1"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x * x")).as("s3"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x * x * x")).as("s4"))
        .select(col("event_type"), col("n"),
          expr("CAST(s1 div n AS BIGINT)").as("mean_cents"),
          expr("CAST(n AS DOUBLE)").as("nd"),
          expr("CAST(s1 AS DOUBLE)").as("a"),
          expr("CAST(s2 AS DOUBLE)").as("b"),
          expr("CAST(s3 AS DOUBLE)").as("c"),
          expr("CAST(s4 AS DOUBLE)").as("d"))
        .select(col("event_type"), col("n"), col("mean_cents"),
          expr("(nd * b - a * a) / (nd * nd)").as("m2"),
          expr("(nd * nd * c - 3 * nd * a * b + 2 * a * a * a) / (nd * nd * nd)")
            .as("m3"),
          expr("""(nd * nd * nd * d - 4 * nd * nd * c * a
            + 6 * nd * a * a * b - 3 * a * a * a * a)
            / (nd * nd * nd * nd)""").as("m4"),
          col("nd"))
        .select(col("event_type"), col("n"), col("mean_cents"),
          expr("round(m3 / power(m2, 1.5), 6)").as("skewness"),
          expr("round(m4 / (m2 * m2) - 3, 6)").as("ex_kurtosis"),
          expr("""round(nd / 6 * ((m3 / power(m2, 1.5)) * (m3 / power(m2, 1.5))
            + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 2)""")
            .as("jarque_bera"))
        .orderBy(col("event_type"))
    }),

    // KRUSKAL–WALLIS rank test — "do the k event types draw their
    // values from the same distribution?", the k-group extension of
    // the Mann-Whitney pair test, rank-based so it needs no normality
    // assumption. Exact integer ranks via the DOUBLED-average-rank
    // trick: on the sorted distinct cents grid, a value with
    // multiplicity m after cumulative count c has doubled-rank
    // 2c + m + 1 (always an integer even when the average rank is a
    // half). H = Σ_g 3·R2_g²/(n_g·N(N+1)) − 3(N+1), each group's term
    // taken as ONE integral division (numerator 3e6·R2_g² ≤ 12e6·n_g²N²
    // stays inside DECIMAL(38,0) to N ≈ 10⁸; the quotient is ≤ ~12e6 so
    // the summed H rides comfortably in BIGINT); the tie correction
    // 1 − Σ(t³−t)/(N³−N) is applied as an exact DECIMAL ratio. One
    // distinct-value agg + one cumulative window over the value GRID
    // (not the raw rows) + one k-row group agg.
    "stats_kruskal_wallis" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val g = e.groupBy(col("cents"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      val m = g.groupBy(col("cents")).agg(sum(col("cnt")).as("m"))
      val w = Window.orderBy(col("cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val ranked = m.withColumn("c",
        coalesce(sum(col("m")).over(w), lit(0L)))
      val r2 = g.join(ranked, Seq("cents"))
        .groupBy(col("event_type"))
        .agg(sum(col("cnt") * (lit(2) * col("c") + col("m") + 1)).as("r2"),
          sum(col("cnt")).as("ng"))
      val nn = r2.agg(sum(col("ng")).as("n"))
      val ties = m.agg(sum(expr("m * m * m - m")).as("tsum"))
      r2.crossJoin(broadcast(nn))
        .select(col("n"),
          expr("""(CAST(r2 AS DECIMAL(38,0)) * r2 * 3000000)
            div (CAST(ng AS DECIMAL(38,0)) * n * (n + 1))""").as("t"))
        .groupBy(col("n"))
        .agg(count(lit(1)).as("k_groups"), sum(col("t")).as("s"))
        .crossJoin(broadcast(ties))
        .select(col("n"), col("k_groups"),
          (col("k_groups") - 1).as("dof"),
          expr("s - 3 * (n + 1) * 1000000").as("h_ppm"),
          expr("""(CAST(s - 3 * (n + 1) * 1000000 AS DECIMAL(38,0))
            * (CAST(n AS DECIMAL(38,0)) * n * n - n))
            div (CAST(n AS DECIMAL(38,0)) * n * n - n - tsum)""")
            .as("h_tiecorr_ppm"))
    }),

    // FANO FACTOR burstiness per type — variance-to-mean ratio of the
    // per-day event counts over the COMPLETE day span (a day with zero
    // events is a real observation of 0, so D is the global span, not
    // the observed-day count — the chi² densification lesson applied
    // to a time grid, without materializing it: zero days contribute
    // nothing to ΣX or ΣX² and only widen D). F = 1e6 exactly at
    // Poisson arrivals, > 1e6 ⇒ overdispersed/bursty, < 1e6 ⇒
    // regular/paced. Population variance as the exact rational
    // (D·Q − S²)/D² over mean S/D ⇒ F_ppm = (D·Q − S²)·1e6 div (D·S),
    // all products DECIMAL(38,0). One grouped count + one k-row agg.
    "stats_fano_burstiness" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(col("event_type"), expr("ts_sec div 86400").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("x"))
      val span = daily.agg((max(col("day")) - min(col("day")) + 1).as("d"))
      daily.groupBy(col("event_type"))
        .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"),
          count(lit(1)).as("active_days"))
        .crossJoin(broadcast(span))
        .select(col("event_type"), col("d").as("span_days"),
          col("active_days"), col("s").as("n_events"),
          expr("""(CAST(d AS DECIMAL(38,0)) * q - CAST(s AS DECIMAL(38,0)) * s)
            * 1000000 div (CAST(d AS DECIMAL(38,0)) * s)""")
            .cast("long").as("fano_ppm"))
        .orderBy(col("event_type"))
    }),

    // 2×2 ODDS RATIO per type — does a weekend event carry higher odds
    // of a high-value outcome (cents ≥ 3500, the fixture's median
    // neighborhood) than a weekday one? OR = (a·d)/(b·c) with the
    // Haldane–Anscombe half-count correction applied in doubled counts
    // ((2a+1)(2d+1))/((2b+1)(2c+1)) — zero-cell-safe with NO floats.
    // dow convention shared with chi² (0 = Sunday via the +4 epoch
    // shift). One grouped count per type, 4 cells each, k rows out.
    "stats_odds_ratio" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("((ts_sec div 86400) + 4) % 7 IN (0, 6)").as("wknd"),
          (round(col("value") * 100).cast("long") >= 3500).as("hi"))
        .groupBy(col("event_type"))
        .agg(sum(when(col("wknd") && col("hi"), 1L).otherwise(0L)).as("a"),
          sum(when(col("wknd") && !col("hi"), 1L).otherwise(0L)).as("b"),
          sum(when(!col("wknd") && col("hi"), 1L).otherwise(0L)).as("c"),
          sum(when(!col("wknd") && !col("hi"), 1L).otherwise(0L)).as("d"))
        .select(col("event_type"), col("a"), col("b"), col("c"), col("d"),
          expr("""(2*a + 1) * (2*d + 1) * 1000000
            div ((2*b + 1) * (2*c + 1))""").as("or_ppm"))
        .orderBy(col("event_type"))
    }),

    // HERFINDAHL–HIRSCHMAN concentration of each type's activity
    // across users — "is 'purchase' broad-based or three whales?".
    // HHI = Σ_u share_u² = (Σ n_u²)·1e6 div N², plus the effective
    // user count 1/HHI (reported ×1000) — the "equivalent number of
    // equally-active users" a mix-entropy reader expects. Exact
    // integers end-to-end; user-keyed grouped count then a k-row agg.
    "stats_herfindahl" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("nu"))
        .groupBy(col("event_type"))
        .agg(sum(col("nu")).as("n_events"),
          count(lit(1)).as("n_users"),
          sum(col("nu") * col("nu")).as("q"))
        .select(col("event_type"), col("n_events"), col("n_users"),
          expr("q * 1000000 div (n_events * n_events)").as("hhi_ppm"),
          expr("n_events * n_events * 1000 div q").as("eff_users_x1000"))
        .orderBy(col("event_type"))
    }),

    // CO-ENGAGEMENT overlap — for every type pair (A < B), the Jaccard
    // of their USER bases in ppm: which behaviors share an audience
    // and which split it. The user-level complement of the PMI
    // co-occurrence entry (PMI counts co-occurrence events; this
    // dedups to reach). Distinct (user, type) first — the self-join
    // runs on the deduped frame keyed by user, never on raw events;
    // at scale that join shuffles ≤ users·types rows and the output is
    // types²-bounded.
    "events_user_overlap" -> ((s, dir) => {
      val d = Tables.events(s, dir)
        .select(col("user_id"), col("event_type")).distinct()
      val sizes = d.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
      val inter = d.as("x").join(d.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_both"))
      inter
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_a")
          .withColumnRenamed("nu", "na")), Seq("type_a"))
        .join(broadcast(sizes.withColumnRenamed("event_type", "type_b")
          .withColumnRenamed("nu", "nb")), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("na"), col("nb"),
          col("n_both"),
          expr("n_both * 1000000 div (na + nb - n_both)")
            .as("jaccard_ppm"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // TUKEY-FENCE outlier census per type — Q1/Q3 read at EXPLICIT
    // ceil-rank positions on the sorted cents (rank semantics spelled
    // out on both engines rather than trusting two quantile
    // implementations to agree), fences at Q1 − 3·IQR div 2 and
    // Q3 + 3·IQR div 2, then the count and extremes of what falls
    // outside. One sort window per type + one fence-filtered agg.
    "stats_tukey_outliers" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val rn = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val ranked = e.withColumn("rn", row_number().over(rn))
        .join(e.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
          Seq("event_type"))
      val q = ranked
        .filter(col("rn") === expr("(n + 3) div 4") ||
          col("rn") === expr("(3 * n + 3) div 4"))
        .groupBy(col("event_type"), col("n"))
        .agg(max(when(col("rn") === expr("(n + 3) div 4"),
            col("cents"))).as("q1"),
          max(when(col("rn") === expr("(3 * n + 3) div 4"),
            col("cents"))).as("q3"))
        .select(col("event_type"), col("n"), col("q1"), col("q3"),
          expr("q1 - 3 * (q3 - q1) div 2").as("lo_fence"),
          expr("q3 + 3 * (q3 - q1) div 2").as("hi_fence"))
      e.join(broadcast(q), Seq("event_type"))
        .groupBy(col("event_type"), col("n"), col("q1"), col("q3"),
          col("lo_fence"), col("hi_fence"))
        .agg(sum(when(col("cents") < col("lo_fence"), 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("cents") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_high"),
          max(when(col("cents") > col("hi_fence"), col("cents")))
            .as("max_outlier"))
        .orderBy(col("event_type"))
    }))

  /** 10-minute window width in µs — shared by the batch peak entry and
    * its streaming twin. */
  private[graft] val PeakW = 600000000L

  /** The gap-aware local-maximum fold shared by `events_peak_detection`
    * and `stream_peak_detection`: takes the (event_type, ws, n) count
    * grid, zeroes a neighbor that is absent (more than one window away
    * or beyond the series boundary — an absent window is a real 0),
    * and reports the peak census plus the highest peak per type
    * (earliest window on ties). */
  private[graft] def peakReport(agg: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("ws"))
    val nb = agg.select(col("event_type"), col("ws"), col("n"),
      when(lag(col("ws"), 1).over(w).isNull ||
          col("ws") - lag(col("ws"), 1).over(w) > PeakW, 0L)
        .otherwise(lag(col("n"), 1).over(w)).as("np"),
      when(lead(col("ws"), 1).over(w).isNull ||
          lead(col("ws"), 1).over(w) - col("ws") > PeakW, 0L)
        .otherwise(lead(col("n"), 1).over(w)).as("nn"))
    // re-alias the two broadcast sides' key column: all three branches
    // derive from ONE `agg` frame, and a memory-sink View (the
    // streaming twin's drained grid) is not deduplicated by the
    // analyzer the way a relation leaf is — a fresh Alias mints a new
    // exprId and makes the self-joins unambiguous on either input
    val nw = agg.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_windows"))
      .select(col("event_type").as("event_type"), col("n_windows"))
    val peaks = nb.filter(col("n") > col("np") && col("n") > col("nn"))
    val top = peaks.withColumn("rk", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("ws"))))
      .filter(col("rk") === 1)
      .select(col("event_type").as("event_type"),
        col("n").as("max_peak_n"),
        expr("ws div 1000000").as("peak_window_s"))
    peaks.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_peaks"))
      .join(broadcast(nw), Seq("event_type"))
      .join(broadcast(top), Seq("event_type"))
      .select(col("event_type"), col("n_windows"), col("n_peaks"),
        col("max_peak_n"), col("peak_window_s"))
      .orderBy(col("event_type"))
  }

  /** The densified chi²-of-independence pipeline shared by
    * `stats_chi2_independence` and `stats_cramers_v2`: one row with
    * n_events, n_types, n_dows, chi2_ppm, computed over the DENSE
    * (type × dow) grid (row marginals × column marginals, observed
    * counts left-joined, O coalesced to 0) so zero-observation cells
    * contribute their full E term. All products DECIMAL(38,0)-exact. */
  private def chi2Report(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"),
        expr("((ts_sec div 86400) + 4) % 7").as("dow"))
    val o = e.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("o"))
    val r = o.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val c = o.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val n = o.agg(sum(col("o")).as("nn"))
    r.crossJoin(broadcast(c))
      .join(broadcast(o), Seq("event_type", "dow"), "left")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(n))
      .select(col("event_type"), col("dow"), col("nn"),
        expr("""CAST(
          (CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * ct)
          * (CAST(o AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * ct)
          * 1000000
          div (CAST(nn AS DECIMAL(38,0)) * r * ct) AS BIGINT)""")
          .as("term"))
      .agg(max(col("nn")).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("dow")).as("n_dows"),
        sum(col("term")).as("chi2_ppm"))
  }

  /** Shared by `events_interarrival` and its streaming twin. */
  private[graft] lazy val interarrivalSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us,
      |    event_id FROM events),
      |g AS (SELECT event_type,
      |    ts_us - lag(ts_us, 1) OVER (PARTITION BY user_id, event_type
      |      ORDER BY ts_us, event_id) AS gap_us
      |  FROM e)
      |SELECT event_type, count(*)::BIGINT AS n_gaps,
      |  CAST(floor(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_us,
      |  CAST(floor(quantile_cont(gap_us, 0.9)) AS BIGINT) AS p90_us,
      |  CAST(floor(quantile_cont(gap_us, 0.99)) AS BIGINT) AS p99_us,
      |  CAST(sum(gap_us) AS BIGINT) // count(*) AS mean_us
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by `events_forecast_holt` and its streaming twin: the
    * α = β = 1/2 Holt recurrence as a type-keyed recursive CTE over
    * the rank-ordered day grid, halvings spelled as the portable
    * floor-div (even numerator ⇒ truncate ≡ floor on both engines). */
  private[graft] lazy val holtSql: String = {
    def fd2(e: String) = s"(($e) - (((($e) % 2) + 2) % 2)) // 2"
    s"""WITH RECURSIVE d0 AS (SELECT event_type,
      |    epoch_us(ts) // 86400000000 AS day,
      |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |daily AS (SELECT event_type, day, sum(cents)::BIGINT AS y
      |  FROM d0 GROUP BY 1, 2),
      |dr AS (SELECT event_type, day, y,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rk
      |  FROM daily),
      |nd AS (SELECT event_type, count(*)::BIGINT AS n_days
      |  FROM daily GROUP BY 1),
      |h AS (
      |  SELECT event_type, rk, y AS l, CAST(0 AS BIGINT) AS b
      |  FROM dr WHERE rk = 1
      |  UNION ALL
      |  SELECT dr.event_type, dr.rk,
      |    ${fd2("dr.y + h.l + h.b")},
      |    ${fd2(s"h.b + (${fd2("dr.y + h.l + h.b")}) - h.l")}
      |  FROM h JOIN dr ON dr.event_type = h.event_type
      |    AND dr.rk = h.rk + 1)
      |SELECT h.event_type, n_days, l AS level_cents, b AS trend_cents,
      |  l + b AS f1_cents, l + 2 * b AS f2_cents, l + 3 * b AS f3_cents
      |FROM h JOIN nd USING (event_type) WHERE h.rk = n_days
      |ORDER BY event_type""".stripMargin
  }

  /** Shared by `events_frequent_sequences` and its streaming twin. */
  private[graft] lazy val freqSeqSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |    event_type FROM events),
      |t AS (SELECT event_type AS t1,
      |    lead(event_type, 1) OVER w AS t2,
      |    lead(event_type, 2) OVER w AS t3
      |  FROM e WINDOW w AS (PARTITION BY user_id
      |    ORDER BY ts_us, event_id)),
      |tri AS (SELECT t1, t2, t3, count(*)::BIGINT AS n FROM t
      |  WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3),
      |tot AS (SELECT sum(n)::BIGINT AS nt FROM tri)
      |SELECT t1, t2, t3, n, n * 1000000 // nt AS support_ppm
      |FROM tri CROSS JOIN tot
      |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin

  /** Mirror of the Markov transition matrix — shared verbatim by the
    * batch lead-window entry AND its streaming keyed-state twin
    * (stream ≡ batch by construction, the attribution gate shape). */
  private[graft] lazy val markovSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
      |    event_type FROM events),
      |tr AS (SELECT event_type AS prev_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts_us, event_id) AS next_type FROM e),
      |p AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
      |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
      |  FROM p GROUP BY 1)
      |SELECT prev_type, next_type, n, n * 1000000 // row_n AS p_ppm
      |FROM p JOIN t USING (prev_type)
      |ORDER BY prev_type, next_type""".stripMargin

  /** Mirror of the attribution window pass — shared by the batch
    * `events_attribution` entry AND `stream_attribution` (the keyed-
    * state streaming twin gates against the identical report). */
  private[graft] lazy val attributionSql: String =
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tu, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |t AS (SELECT *,
        |    first_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tu, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY tu, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
        |  FROM e),
        |p AS (SELECT * FROM t
        |  WHERE event_type = 'purchase' AND lt IS NOT NULL),
        |f AS (SELECT ft AS touch_type, count(*) AS n_first,
        |    CAST(sum(cents) AS BIGINT) AS first_cents FROM p GROUP BY 1),
        |l AS (SELECT lt AS touch_type, count(*) AS n_last,
        |    CAST(sum(cents) AS BIGINT) AS last_cents FROM p GROUP BY 1)
        |SELECT coalesce(f.touch_type, l.touch_type) AS touch_type,
        |  CAST(coalesce(n_first, 0) AS BIGINT) AS n_first,
        |  CAST(coalesce(first_cents, 0) AS BIGINT) AS first_cents,
        |  CAST(coalesce(n_last, 0) AS BIGINT) AS n_last,
        |  CAST(coalesce(last_cents, 0) AS BIGINT) AS last_cents
        |FROM f FULL JOIN l ON f.touch_type = l.touch_type
        |ORDER BY touch_type""".stripMargin

  /** DuckDB mirror of [[chi2Report]]'s densified cell grid (shared by
    * the chi² and Cramér's V² oracles): the CTE chain ends at `t`,
    * one term row per DENSE (type, dow) cell. */
  private lazy val chi2CoreSql: String =
    """WITH e AS (SELECT event_type,
      |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow FROM events),
      |o AS (SELECT event_type, dow, count(*)::BIGINT AS o
      |  FROM e GROUP BY 1, 2),
      |r AS (SELECT event_type, sum(o)::BIGINT AS r FROM o GROUP BY 1),
      |c AS (SELECT dow, sum(o)::BIGINT AS ct FROM o GROUP BY 1),
      |n AS (SELECT sum(o)::BIGINT AS nn FROM o),
      |grid AS (SELECT r.event_type, c.dow, r.r, c.ct,
      |    COALESCE(o.o, 0)::BIGINT AS o
      |  FROM r CROSS JOIN c
      |  LEFT JOIN o ON o.event_type = r.event_type AND o.dow = c.dow),
      |t AS (SELECT grid.event_type, grid.dow, nn,
      |    CAST((CAST(grid.o AS HUGEINT) * nn
      |        - CAST(grid.r AS HUGEINT) * grid.ct)
      |      * (CAST(grid.o AS HUGEINT) * nn
      |        - CAST(grid.r AS HUGEINT) * grid.ct)
      |      * 1000000
      |      // (CAST(nn AS HUGEINT) * grid.r * grid.ct) AS BIGINT) AS term
      |  FROM grid CROSS JOIN n)""".stripMargin

  def oracle: Map[String, String] = Map(
    "events_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_variant_extract" ->
      """WITH k AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  count(DISTINCT k) AS n_distinct_k
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_tumbling" ->
      """SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) // 1000000 AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // the candlestick mirror: same (ts, event_id) first/last order
    "events_autocorr" -> {
      def corr =
        "round((n::DOUBLE * sxp::DOUBLE - sx::DOUBLE * sp::DOUBLE) / " +
          "(sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
          "sqrt(n::DOUBLE * spp::DOUBLE - sp::DOUBLE * sp::DOUBLE)), 6)"
      def lagSel(k: Int) =
        s"""SELECT event_type, CAST($k AS BIGINT) AS lag, x,
          |    lag(x, $k) OVER (PARTITION BY event_type ORDER BY hr) AS xp
          |  FROM h""".stripMargin
      s"""WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(CAST(sum(round(value * 100)::BIGINT) AS BIGINT)
        |      AS DECIMAL(19,0)) AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (${(1 to 3).map(lagSel).mkString("\n UNION ALL\n")}),
        |s AS (SELECT event_type, lag,
        |    CAST(count(*) AS DECIMAL(38,0)) AS n,
        |    sum(x) AS sx, sum(xp) AS sp, sum(x*x) AS sxx,
        |    sum(xp*xp) AS spp, sum(x*xp) AS sxp
        |  FROM l WHERE xp IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, lag, CAST(n AS BIGINT) AS n_pairs,
        |  $corr AS autocorr
        |FROM s ORDER BY event_type, lag""".stripMargin
    },
    "stats_ljung_box" -> {
      def corr =
        "round((n::DOUBLE * sxp::DOUBLE - sx::DOUBLE * sp::DOUBLE) / " +
          "(sqrt(n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) * " +
          "sqrt(n::DOUBLE * spp::DOUBLE - sp::DOUBLE * sp::DOUBLE)), 6)"
      def lagSel(k: Int) =
        s"""SELECT event_type, CAST($k AS BIGINT) AS lag, x,
          |    lag(x, $k) OVER (PARTITION BY event_type ORDER BY hr) AS xp
          |  FROM h""".stripMargin
      s"""WITH h AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(CAST(sum(round(value * 100)::BIGINT) AS BIGINT)
        |      AS DECIMAL(19,0)) AS x
        |  FROM events GROUP BY 1, 2),
        |nh AS (SELECT event_type, count(*)::BIGINT AS n_hours
        |  FROM h GROUP BY 1),
        |l AS (${(1 to 3).map(lagSel).mkString("\n UNION ALL\n")}),
        |s AS (SELECT event_type, lag,
        |    CAST(count(*) AS DECIMAL(38,0)) AS n,
        |    sum(x) AS sx, sum(xp) AS sp, sum(x*x) AS sxx,
        |    sum(xp*xp) AS spp, sum(x*xp) AS sxp
        |  FROM l WHERE xp IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, lag, $corr AS rho FROM s),
        |t AS (SELECT r.event_type, n_hours,
        |    rho * rho / (CAST(n_hours AS DOUBLE) - lag) AS term
        |  FROM r JOIN nh ON r.event_type = nh.event_type)
        |SELECT event_type, n_hours, count(*)::BIGINT AS k_lags,
        |  round(CAST(n_hours AS DOUBLE)
        |    * (CAST(n_hours AS DOUBLE) + 2) * sum(term), 4) AS q_lb
        |FROM t GROUP BY 1, 2 ORDER BY event_type""".stripMargin
    },
    "events_seasonality" ->
      """WITH e AS (SELECT event_type,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, hour, count(*)::BIGINT AS n,
        |    CAST(sum(cents) AS BIGINT) AS sum_c FROM e GROUP BY 1, 2),
        |o AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS tn,
        |    CAST(sum(sum_c) AS BIGINT) AS tc FROM h GROUP BY 1)
        |SELECT event_type, hour, n,
        |  sum_c * 100 // n AS mean_cents_x100,
        |  sum_c * 100 // n - tc * 100 // tn AS dev_cents_x100
        |FROM h JOIN o USING (event_type)
        |ORDER BY event_type, hour""".stripMargin,
    "events_ohlc" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) - epoch_us(ts) % 600000000 AS w_us FROM events),
        |w AS (SELECT event_type, w_us, cents,
        |    first_value(cents) OVER (PARTITION BY event_type, w_us
        |      ORDER BY ts_us, event_id) AS open_c,
        |    first_value(cents) OVER (PARTITION BY event_type, w_us
        |      ORDER BY ts_us DESC, event_id DESC) AS close_c
        |  FROM e)
        |SELECT w_us // 1000000 AS window_start, event_type,
        |  max(open_c) AS open_cents, max(cents) AS high_cents,
        |  min(cents) AS low_cents, max(close_c) AS close_cents,
        |  count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "events_resample" ->
      """WITH agg AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) // 1000000 AS window_start,
        |    event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM agg),
        |grid AS (SELECT t.event_type, u.g AS window_start
        |  FROM (SELECT DISTINCT event_type FROM events) t, b,
        |    LATERAL unnest(generate_series(b.lo, b.hi, 600)) u(g))
        |SELECT g.window_start, g.event_type,
        |  coalesce(n, 0) AS n, coalesce(sum_value, 0.0) AS sum_value
        |FROM grid g LEFT JOIN agg a
        |  ON g.window_start = a.window_start AND g.event_type = a.event_type
        |ORDER BY g.window_start, g.event_type""".stripMargin,
    "events_locf" ->
      """WITH agg AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) // 1000000 AS window_start,
        |    event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM agg),
        |grid AS (SELECT t.event_type, u.g AS window_start
        |  FROM (SELECT DISTINCT event_type FROM events) t, b,
        |    LATERAL unnest(generate_series(b.lo, b.hi, 600)) u(g))
        |SELECT window_start, event_type, n,
        |  coalesce(last_value(CASE WHEN n > 0 THEN sum_cents END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY window_start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS filled_cents
        |FROM (SELECT g.window_start, g.event_type, coalesce(a.n, 0) AS n,
        |    a.sum_cents AS sum_cents
        |  FROM grid g LEFT JOIN agg a
        |    ON g.window_start = a.window_start AND g.event_type = a.event_type) j
        |ORDER BY window_start, event_type""".stripMargin,
    "events_markov" -> markovSql,
    // 16 unrolled power-iteration steps over the same transition frame
    "events_markov_stationary" -> {
      val steps = (1 to 16).map { i =>
        s"""p$i AS (SELECT pm.next_type AS state,
          |  CAST(sum(pp.pi * pm.n // pm.row_n) AS BIGINT) AS pi
          |  FROM p${i - 1} pp JOIN pm ON pm.prev_type = pp.state
          |  GROUP BY 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events),
        |tr AS (SELECT event_type AS prev_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_type FROM e),
        |p AS (SELECT prev_type, next_type, count(*)::BIGINT AS n
        |  FROM tr WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_n
        |  FROM p GROUP BY 1),
        |pm AS (SELECT p.prev_type, p.next_type, p.n, t.row_n
        |  FROM p JOIN t USING (prev_type)),
        |states AS (SELECT DISTINCT prev_type AS state FROM pm),
        |k AS (SELECT count(*)::BIGINT AS k FROM states),
        |p0 AS (SELECT state, 1000000 // k AS pi FROM states, k),
        |$steps
        |SELECT state, pi AS pi_ppm FROM p16 ORDER BY state""".stripMargin
    },
    // the KM integer recurrence mirrors as a recursive CTE walking the
    // rank-ordered death days (DuckDB side of the `aggregate` HOF fold)
    "events_entropy_rate" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |    event_type FROM events),
        |p0 AS (SELECT event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS next_type FROM e),
        |pairs AS (SELECT event_type, next_type, count(*)::BIGINT AS n
        |  FROM p0 WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(n)::BIGINT AS rn
        |  FROM pairs GROUP BY 1),
        |tot AS (SELECT sum(n)::BIGINT AS nt FROM pairs)
        |SELECT max(nt) AS n_transitions, count(*)::BIGINT AS n_cells,
        |  sum(CAST(floor(1000000 * (CAST(n AS DOUBLE) / nt) *
        |    (-ln(CAST(n AS DOUBLE) / rn))) AS BIGINT))::BIGINT
        |    AS entropy_rate_e6
        |FROM pairs JOIN r USING (event_type) CROSS JOIN tot""".stripMargin,
    "events_interarrival" -> interarrivalSql,
    "events_dormancy" ->
      """WITH du AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |g AS (SELECT user_id, count(*)::BIGINT AS n_days,
        |    coalesce(max(gap), 0)::BIGINT AS max_gap FROM (
        |  SELECT user_id, day - lag(day, 1) OVER (PARTITION BY user_id
        |    ORDER BY day) AS gap FROM du) GROUP BY user_id)
        |SELECT count(*)::BIGINT AS n_users,
        |  sum(CASE WHEN max_gap >= 7 THEN 1 ELSE 0 END)::BIGINT
        |    AS n_reactivated,
        |  max(max_gap) AS worst_gap_days,
        |  (sum(CASE WHEN max_gap >= 7 THEN 1 ELSE 0 END)::BIGINT
        |    * 1000000) // count(*) AS reactivated_ppm
        |FROM g""".stripMargin,
    "events_dau_wau_mau" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
        |r AS (SELECT g.day,
        |    count(DISTINCT CASE WHEN u.day >= g.day - 6
        |      THEN u.user_id END)::BIGINT AS wau,
        |    count(DISTINCT u.user_id)::BIGINT AS mau
        |  FROM days g JOIN du u ON u.day BETWEEN g.day - 27 AND g.day
        |  GROUP BY 1)
        |SELECT day, dau, wau, mau, dau * 1000000 // mau AS stickiness_ppm
        |FROM dau JOIN r USING (day) ORDER BY day""".stripMargin,
    "events_bot_rules" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 3600000000 AS hour,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |u AS (SELECT user_id, count(*)::BIGINT AS n_events,
        |    count(DISTINCT day)::BIGINT AS active_days,
        |    CAST(sum(CASE WHEN hour % 24 < 6 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_night
        |  FROM e GROUP BY 1),
        |hb AS (SELECT user_id, CAST(max(nh) AS BIGINT) AS max_hour_burst
        |  FROM (SELECT user_id, hour, count(*) AS nh FROM e
        |    GROUP BY 1, 2) h GROUP BY 1),
        |j AS (SELECT u.user_id AS user_id, n_events, active_days,
        |    n_events * 100 // active_days AS rate_x100, max_hour_burst,
        |    n_night * 1000000 // n_events AS night_ppm
        |  FROM u JOIN hb USING (user_id))
        |SELECT user_id, n_events, active_days, rate_x100,
        |  max_hour_burst, night_ppm,
        |  rate_x100 >= 300 AS rate_flag,
        |  max_hour_burst >= 3 AS burst_flag,
        |  night_ppm >= 500000 AS night_flag,
        |  (CASE WHEN rate_x100 >= 300 THEN 1 ELSE 0 END +
        |   CASE WHEN max_hour_burst >= 3 THEN 1 ELSE 0 END +
        |   CASE WHEN night_ppm >= 500000 THEN 1 ELSE 0 END) >= 2
        |    AS bot_suspect
        |FROM j ORDER BY user_id""".stripMargin,
    // sketch twin: exact grid hash-matched, HLL estimates gated as
    // tolerance booleans (the agg_hll_union shape)
    "events_dau_wau_mau_hll" ->
      """WITH du AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day,
        |    user_id FROM events),
        |days AS (SELECT DISTINCT day FROM du),
        |dau AS (SELECT day, count(*)::BIGINT AS dau FROM du GROUP BY 1),
        |r AS (SELECT g.day,
        |    count(DISTINCT CASE WHEN u.day >= g.day - 6
        |      THEN u.user_id END)::BIGINT AS wau,
        |    count(DISTINCT u.user_id)::BIGINT AS mau
        |  FROM days g JOIN du u ON u.day BETWEEN g.day - 27 AND g.day
        |  GROUP BY 1)
        |SELECT day, dau, wau, mau, true AS wau_within_tol,
        |  true AS mau_within_tol
        |FROM dau JOIN r USING (day) ORDER BY day""".stripMargin,
    "events_cohort_ltv" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
        |  FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day
        |  FROM e GROUP BY 1),
        |sizes AS (SELECT cohort_day, count(*)::BIGINT AS cohort_users
        |  FROM cohort GROUP BY 1),
        |rev AS (SELECT cohort_day, e.day - cohort_day AS day_offset,
        |    sum(cents)::BIGINT AS rev_cents
        |  FROM e JOIN cohort USING (user_id) GROUP BY 1, 2),
        |cum AS (SELECT cohort_day, day_offset, rev_cents,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cohort_day
        |      ORDER BY day_offset) AS BIGINT) AS cum_rev_cents
        |  FROM rev)
        |SELECT cohort_day, day_offset, cohort_users, rev_cents,
        |  cum_rev_cents, cum_rev_cents // cohort_users AS ltv_cents
        |FROM cum JOIN sizes USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "stats_mann_whitney" ->
      s"""WITH g AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    sum(CASE WHEN epoch_us(ts) < $psiCutUs THEN 1 ELSE 0 END)::BIGINT
        |      AS np,
        |    sum(CASE WHEN epoch_us(ts) < $psiCutUs THEN 0 ELSE 1 END)::BIGINT
        |      AS nq
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT event_type, np, nq, np + nq AS m,
        |    CAST(sum(np + nq) OVER (PARTITION BY event_type
        |      ORDER BY cents) AS BIGINT) AS cum
        |  FROM g),
        |a AS (SELECT event_type, sum(np)::BIGINT AS n_pre,
        |    sum(nq)::BIGINT AS n_post,
        |    sum(np * (cum * 2 - m + 1))::BIGINT AS r2_pre
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_pre, n_post,
        |  r2_pre - n_pre * (n_pre + 1) AS u2_pre,
        |  n_pre * n_post * 2 - (r2_pre - n_pre * (n_pre + 1)) AS u2_post
        |FROM a ORDER BY event_type""".stripMargin,
    "events_frequent_sequences" -> freqSeqSql,
    "stats_woe_iv" ->
      """WITH g AS (SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |    sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)::BIGINT
        |      AS good,
        |    sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
        |      AS nbad
        |  FROM events GROUP BY 1),
        |tot AS (SELECT sum(good)::BIGINT AS gt, sum(nbad)::BIGINT AS bt
        |  FROM g)
        |SELECT dow, good, nbad,
        |  CASE WHEN good = 0 OR nbad = 0 THEN NULL
        |    ELSE CAST(floor(1000000 * ln((CAST(good AS DOUBLE) * bt) /
        |      (CAST(nbad AS DOUBLE) * gt))) AS BIGINT) END AS woe_e6,
        |  CASE WHEN good = 0 OR nbad = 0 THEN NULL
        |    ELSE CAST(floor(1000000 *
        |      (CAST(good AS DOUBLE) / gt - CAST(nbad AS DOUBLE) / bt) *
        |      ln((CAST(good AS DOUBLE) * bt) /
        |         (CAST(nbad AS DOUBLE) * gt))) AS BIGINT) END AS iv_term_e6
        |FROM g CROSS JOIN tot ORDER BY dow""".stripMargin,
    "events_survival_km" ->
      """WITH RECURSIVE fu AS (
        |  SELECT user_id, min(epoch_us(ts)) AS fu FROM events GROUP BY user_id),
        |pu AS (SELECT user_id, min(epoch_us(ts)) AS pu FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |obs AS (SELECT
        |    CASE WHEN pu.pu IS NOT NULL AND (pu.pu - fu.fu) // 86400000000 <= 5
        |         THEN (pu.pu - fu.fu) // 86400000000 ELSE 5 END AS t,
        |    (pu.pu IS NULL OR (pu.pu - fu.fu) // 86400000000 > 5) AS cens
        |  FROM fu LEFT JOIN pu ON fu.user_id = pu.user_id),
        |grp AS (SELECT t, count(*)::BIGINT AS n_t,
        |    sum(CASE WHEN cens THEN 0 ELSE 1 END)::BIGINT AS d,
        |    sum(CASE WHEN cens THEN 1 ELSE 0 END)::BIGINT AS c
        |  FROM obs GROUP BY t),
        |steps AS (SELECT t, d, c,
        |    CAST(sum(n_t) OVER (ORDER BY t DESC) AS BIGINT) AS n FROM grp),
        |ds AS (SELECT t, d, c, n, row_number() OVER (ORDER BY t) AS rk
        |  FROM steps WHERE d > 0),
        |km AS (
        |  SELECT t, d, c, n, rk, (1000000 * (n - d)) // n AS s
        |  FROM ds WHERE rk = 1
        |  UNION ALL
        |  SELECT ds.t, ds.d, ds.c, ds.n, ds.rk, (km.s * (ds.n - ds.d)) // ds.n
        |  FROM km JOIN ds ON ds.rk = km.rk + 1)
        |SELECT t AS t_days, n AS n_risk, d AS n_death, c AS n_censored,
        |  s AS s_ppm
        |FROM km ORDER BY t_days""".stripMargin,
    "events_forecast_holt" -> holtSql,
    "events_changepoint" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, CAST(sum(y) AS BIGINT) AS ty,
        |    count(*)::BIGINT AS nd FROM daily GROUP BY 1),
        |c AS (SELECT daily.event_type AS event_type, day, ty, nd,
        |    row_number() OVER (PARTITION BY daily.event_type
        |      ORDER BY day) AS rk,
        |    CAST(sum(y) OVER (PARTITION BY daily.event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum
        |  FROM daily JOIN t USING (event_type)),
        |d AS (SELECT *, abs(cum * nd - rk * ty) AS dev FROM c),
        |p AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev DESC, day) AS rn FROM d)
        |SELECT event_type, day AS change_day,
        |  cum // rk AS pre_mean_cents,
        |  (ty - cum) // (nd - rk) AS post_mean_cents,
        |  (ty - cum) // (nd - rk) - cum // rk AS shift_cents
        |FROM p WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "events_seasonal_adjust" ->
      """WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |dd AS (SELECT day, y, (day + 4) % 7 AS dow FROM daily),
        |g AS (SELECT CAST(sum(y) AS BIGINT) AS ty,
        |    count(*)::BIGINT AS nd FROM dd),
        |idx AS (SELECT dow, count(*)::BIGINT AS n_days,
        |    CAST(sum(y) AS BIGINT) // count(*) AS mean_cents,
        |    CAST(sum(y) AS BIGINT) // count(*) - ty // nd AS idx_cents
        |  FROM dd CROSS JOIN g GROUP BY dow, ty, nd),
        |dev AS (SELECT
        |    CAST(sum(abs(y - ty // nd)) AS BIGINT) AS dev_before,
        |    CAST(sum(abs(y - idx_cents - ty // nd)) AS BIGINT) AS dev_after
        |  FROM dd JOIN idx USING (dow) CROSS JOIN g)
        |SELECT dow, n_days, mean_cents, idx_cents, dev_before, dev_after
        |FROM idx CROSS JOIN dev ORDER BY dow""".stripMargin,
    "events_forecast_backtest" ->
      """WITH d0 AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS y
        |  FROM d0 GROUP BY 1, 2),
        |l AS (SELECT event_type,
        |    abs(y - lag(y, 1) OVER (PARTITION BY event_type
        |      ORDER BY day)) AS d1,
        |    abs(y - lag(y, 7) OVER (PARTITION BY event_type
        |      ORDER BY day)) AS d7
        |  FROM daily),
        |a AS (SELECT event_type, count(d1)::BIGINT AS n1,
        |    CAST(sum(d1) AS BIGINT) AS sum1, count(d7)::BIGINT AS n7,
        |    CAST(sum(d7) AS BIGINT) AS sum7 FROM l GROUP BY 1)
        |SELECT event_type, n1, n7, sum1 // n1 AS mae_naive_cents,
        |  sum7 // n7 AS mae_snaive_cents,
        |  sum7 * n1 * 1000000 // (sum1 * n7) AS mase_ppm
        |FROM a WHERE n7 > 0 AND sum1 > 0 ORDER BY 1""".stripMargin,
    "stats_theil_sen" -> {
      def fdiv(x: String, n: String) =
        s"(($x) - ((($x) % ($n)) + ($n)) % ($n)) // ($n)"
      s"""WITH d0 AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |daily AS (SELECT event_type, day, sum(cents)::BIGINT AS y
        |  FROM d0 GROUP BY 1, 2),
        |p AS (SELECT a.event_type, a.day AS d1, b.day AS d2,
        |    ${fdiv("(b.y - a.y) * 10000", "b.day - a.day")} AS slope_e4
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day),
        |rk AS (SELECT event_type, slope_e4,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY slope_e4, d1, d2) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS np FROM p)
        |SELECT event_type, np::BIGINT AS n_pairs,
        |  slope_e4 AS median_slope_e4
        |FROM rk WHERE rk = (np + 1) // 2 ORDER BY event_type""".stripMargin
    },
    // the oracle mirrors the deterministic (count DESC, value ASC)
    // tiebreak explicitly — native mode() tiebreaks arbitrarily
    "agg_mode" ->
      """WITH g AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    count(*)::BIGINT AS m
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, cents AS mode_cents, m AS mode_n, n_distinct
        |FROM (SELECT event_type, cents, m,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY m DESC, cents) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n_distinct
        |  FROM g) WHERE rk = 1 ORDER BY event_type""".stripMargin,
    "stats_cohens_d" ->
      s"""WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) < $psiCutUs AS is_pre FROM events),
        |g AS (SELECT event_type,
        |    sum(CASE WHEN is_pre THEN 1 ELSE 0 END)::BIGINT AS n1,
        |    sum(CASE WHEN is_pre THEN 0 ELSE 1 END)::BIGINT AS n2,
        |    sum(CASE WHEN is_pre THEN CAST(cents AS HUGEINT) END) AS s1,
        |    sum(CASE WHEN NOT is_pre THEN CAST(cents AS HUGEINT) END) AS s2,
        |    sum(CASE WHEN is_pre THEN CAST(cents AS HUGEINT) * cents END)
        |      AS q1,
        |    sum(CASE WHEN NOT is_pre
        |      THEN CAST(cents AS HUGEINT) * cents END) AS q2
        |  FROM e GROUP BY 1)
        |SELECT event_type, n1 AS n_pre, n2 AS n_post,
        |  round((CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
        |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |    sqrt(((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) *
        |      CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)) +
        |      (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) *
        |      CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))) /
        |      (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2)), 6)
        |    AS cohens_d
        |FROM g ORDER BY event_type""".stripMargin,
    "stats_runs_test" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    epoch_us(ts) AS ts_us, event_id FROM events),
        |g AS (SELECT event_type, cents, count(*)::BIGINT AS m
        |  FROM e GROUP BY 1, 2),
        |med AS (SELECT event_type, min(cents) AS med FROM (
        |  SELECT event_type, cents,
        |    sum(m) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |    sum(m) OVER (PARTITION BY event_type) AS nn
        |  FROM g) WHERE cum >= (nn + 1) // 2 GROUP BY event_type),
        |s AS (SELECT e.event_type, cents > med AS hi,
        |    lag(cents > med, 1) OVER (PARTITION BY e.event_type
        |      ORDER BY ts_us, event_id) AS prev
        |  FROM e JOIN med USING (event_type) WHERE cents <> med),
        |a AS (SELECT event_type,
        |    sum(CASE WHEN hi THEN 1 ELSE 0 END)::BIGINT AS n_hi,
        |    sum(CASE WHEN hi THEN 0 ELSE 1 END)::BIGINT AS n_lo,
        |    (sum(CASE WHEN prev IS NOT NULL AND prev <> hi
        |      THEN 1 ELSE 0 END) + 1)::BIGINT AS n_runs
        |  FROM s GROUP BY 1)
        |SELECT event_type, n_hi, n_lo, n_runs,
        |  1000000 + (2 * n_hi * n_lo * 1000000) // (n_hi + n_lo)
        |    AS e_runs_e6
        |FROM a ORDER BY event_type""".stripMargin,
    "stats_bootstrap_ci" ->
      """WITH e AS (SELECT event_type, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rep AS (SELECT event_type, cents, t.b,
        |    ('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':' ||
        |      CAST(t.b // 5 AS VARCHAR)),
        |      CAST(1 + 6 * (t.b % 5) AS INT), 6))::BIGINT % 1000000 AS u
        |  FROM e, range(0, 64) t(b)),
        |w AS (SELECT event_type, b, cents,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |         WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |         WHEN u < 996340 THEN 4 ELSE 5 END AS w FROM rep),
        |m AS (SELECT event_type, b,
        |    CAST(sum(w * cents) AS BIGINT) // CAST(sum(w) AS BIGINT) AS mean_b
        |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
        |rk AS (SELECT event_type, b, mean_b,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY mean_b, b) AS rk FROM m),
        |pt AS (SELECT event_type, count(*)::BIGINT AS n,
        |    CAST(sum(cents) AS BIGINT) // count(*) AS mean_cents
        |  FROM e GROUP BY 1)
        |SELECT pt.event_type, n, mean_cents,
        |  max(CASE WHEN rk = 4 THEN mean_b END) AS lo_cents,
        |  max(CASE WHEN rk = 61 THEN mean_b END) AS hi_cents
        |FROM pt JOIN rk USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    // delete-one-bucket jackknife over the same 256-bucket sufficient
    // statistics; integer-exact until the final IEEE sqrt
    "stats_jackknife_ci" ->
      """WITH e AS (SELECT event_type, event_id % 256 AS bk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |bkt AS (SELECT event_type, bk, count(*)::BIGINT AS m,
        |    CAST(sum(cents) AS BIGINT) AS t FROM e GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) AS tt, count(*)::BIGINT AS nb
        |  FROM bkt GROUP BY 1),
        |th AS (SELECT bkt.event_type AS event_type,
        |    (tt - t) // (n - m) AS th
        |  FROM bkt JOIN tot USING (event_type)),
        |ag AS (SELECT event_type, CAST(sum(th) AS BIGINT) AS sth,
        |    CAST(sum(th * th) AS BIGINT) AS sth2 FROM th GROUP BY 1),
        |fin AS (SELECT tot.event_type AS event_type, n, nb,
        |    tt // n AS mean_cents,
        |    sqrt(((nb - 1) * (nb * sth2 - sth * sth))::DOUBLE)
        |      / nb::DOUBLE AS se
        |  FROM tot JOIN ag USING (event_type))
        |SELECT event_type, n, nb, mean_cents,
        |  round(se, 4) AS se_cents,
        |  mean_cents - CAST(round(1.96 * se) AS BIGINT) AS lo_cents,
        |  mean_cents + CAST(round(1.96 * se) AS BIGINT) AS hi_cents
        |FROM fin ORDER BY 1""".stripMargin,
    // BLB twin: the same md5→Poisson table drawn at the BUCKET level
    // over (count, Σcents) sufficient statistics
    "stats_bootstrap_blb" ->
      """WITH e AS (SELECT event_type, event_id % 256 AS bk,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |bkt AS (SELECT event_type, bk, count(*)::BIGINT AS m,
        |    CAST(sum(cents) AS BIGINT) AS t FROM e GROUP BY 1, 2),
        |rep AS (SELECT event_type, m, t, tt.b,
        |    ('0x' || substr(md5(event_type || ':' ||
        |      CAST(bk AS VARCHAR) || ':' || CAST(tt.b // 5 AS VARCHAR)),
        |      CAST(1 + 6 * (tt.b % 5) AS INT), 6))::BIGINT % 1000000 AS u
        |  FROM bkt, range(0, 64) tt(b)),
        |w AS (SELECT event_type, b, m, t,
        |    CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1
        |         WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3
        |         WHEN u < 996340 THEN 4 ELSE 5 END AS w FROM rep),
        |mn AS (SELECT event_type, b,
        |    CAST(sum(w * t) AS BIGINT) // CAST(sum(w * m) AS BIGINT) AS mean_b
        |  FROM w GROUP BY 1, 2 HAVING sum(w * m) > 0),
        |rk AS (SELECT event_type, b, mean_b,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY mean_b, b) AS rk FROM mn),
        |pt AS (SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
        |    CAST(sum(t) AS BIGINT) // CAST(sum(m) AS BIGINT) AS mean_cents
        |  FROM bkt GROUP BY 1)
        |SELECT pt.event_type, n, mean_cents,
        |  max(CASE WHEN rk = 4 THEN mean_b END) AS lo_cents,
        |  max(CASE WHEN rk = 61 THEN mean_b END) AS hi_cents
        |FROM pt JOIN rk USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "stats_chi2_independence" ->
      s"""$chi2CoreSql
        |SELECT max(nn) AS n_events,
        |  (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1) AS dof,
        |  sum(term)::BIGINT AS chi2_ppm
        |FROM t""".stripMargin,
    "stats_cramers_v2" ->
      s"""$chi2CoreSql
        |SELECT n_events, min_dim, chi2_ppm,
        |  chi2_ppm // (n_events * min_dim) AS v2_ppm
        |FROM (SELECT max(nn) AS n_events,
        |    least(count(DISTINCT event_type) - 1,
        |      count(DISTINCT dow) - 1) AS min_dim,
        |    sum(term)::BIGINT AS chi2_ppm
        |  FROM t)""".stripMargin,
    "stats_quantile_drift" ->
      s"""WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CASE WHEN epoch_us(ts) < $psiCutUs THEN 'pre' ELSE 'post' END
        |      AS half
        |  FROM events),
        |rn AS (SELECT event_type, half, cents,
        |    row_number() OVER (PARTITION BY event_type, half
        |      ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type, half) AS n
        |  FROM e),
        |q AS (SELECT event_type, half,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50,
        |    max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90
        |  FROM rn WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |  GROUP BY 1, 2)
        |SELECT a.event_type,
        |  a.p50 AS p50_pre, b.p50 AS p50_post,
        |  b.p50 - a.p50 AS p50_delta_cents,
        |  a.p90 AS p90_pre, b.p90 AS p90_post,
        |  b.p90 - a.p90 AS p90_delta_cents
        |FROM q a JOIN q b ON a.event_type = b.event_type
        |  AND a.half = 'pre' AND b.half = 'post'
        |ORDER BY a.event_type""".stripMargin,
    "stats_levene_bf" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |rn AS (SELECT event_type, x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY x) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM e),
        |med AS (SELECT event_type, x AS med FROM rn
        |  WHERE rn = (cnt + 1) // 2),
        |z AS (SELECT e.event_type, abs(x - med) AS z
        |  FROM e JOIN med ON e.event_type = med.event_type),
        |g AS (SELECT event_type, count(*)::BIGINT AS ng,
        |    CAST(sum(z) AS BIGINT) AS sg,
        |    sum(CAST(z AS HUGEINT) * z) AS qg
        |  FROM z GROUP BY 1),
        |t AS (SELECT ng, sg, qg,
        |    CAST(sg AS HUGEINT) * sg * 1000 // ng AS ag FROM g),
        |a AS (SELECT sum(ng)::BIGINT AS n, count(*)::BIGINT AS k,
        |    CAST(sum(sg) AS BIGINT) AS s, sum(qg) AS q, sum(ag) AS a
        |  FROM t)
        |SELECT n, k, k - 1 AS dof1, n - k AS dof2,
        |  CAST((CAST(n AS HUGEINT) - k)
        |    * (a - CAST(s AS HUGEINT) * s * 1000 // n) * 1000000
        |    // ((CAST(k AS HUGEINT) - 1)
        |      * (CAST(q AS HUGEINT) * 1000 - a)) AS BIGINT) AS f_ppm
        |FROM a""".stripMargin,
    "stats_moments_profile" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS x FROM events),
        |s AS (SELECT event_type, count(*)::BIGINT AS n,
        |    sum(CAST(x AS HUGEINT)) AS s1,
        |    sum(CAST(x AS HUGEINT) * x) AS s2,
        |    sum(CAST(x AS HUGEINT) * x * x) AS s3,
        |    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
        |  FROM e GROUP BY 1),
        |f AS (SELECT event_type, n, CAST(s1 // n AS BIGINT) AS mean_cents,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS a,
        |    CAST(s2 AS DOUBLE) AS b, CAST(s3 AS DOUBLE) AS c,
        |    CAST(s4 AS DOUBLE) AS d
        |  FROM s),
        |m AS (SELECT event_type, n, mean_cents,
        |    (nd * b - a * a) / (nd * nd) AS m2,
        |    (nd * nd * c - 3 * nd * a * b + 2 * a * a * a)
        |      / (nd * nd * nd) AS m3,
        |    (nd * nd * nd * d - 4 * nd * nd * c * a
        |      + 6 * nd * a * a * b - 3 * a * a * a * a)
        |      / (nd * nd * nd * nd) AS m4,
        |    nd
        |  FROM f)
        |SELECT event_type, n, mean_cents,
        |  round(m3 / power(m2, 1.5), 6) AS skewness,
        |  round(m4 / (m2 * m2) - 3, 6) AS ex_kurtosis,
        |  round(nd / 6 * ((m3 / power(m2, 1.5)) * (m3 / power(m2, 1.5))
        |    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 2)
        |    AS jarque_bera
        |FROM m ORDER BY event_type""".stripMargin,
    "events_peak_detection" ->
      """WITH agg AS (SELECT event_type,
        |    epoch_us(ts) - epoch_us(ts) % 600000000 AS ws,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |nb AS (SELECT event_type, ws, n,
        |    CASE WHEN lag(ws) OVER w IS NULL
        |        OR ws - lag(ws) OVER w > 600000000 THEN 0
        |      ELSE lag(n) OVER w END AS np,
        |    CASE WHEN lead(ws) OVER w IS NULL
        |        OR lead(ws) OVER w - ws > 600000000 THEN 0
        |      ELSE lead(n) OVER w END AS nn
        |  FROM agg
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ws)),
        |nw AS (SELECT event_type, count(*)::BIGINT AS n_windows
        |  FROM agg GROUP BY 1),
        |peaks AS (SELECT * FROM nb WHERE n > np AND n > nn),
        |top AS (SELECT event_type, n AS max_peak_n,
        |    ws // 1000000 AS peak_window_s
        |  FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |      ORDER BY n DESC, ws) AS rk FROM peaks)
        |  WHERE rk = 1)
        |SELECT event_type, n_windows, count(*)::BIGINT AS n_peaks,
        |  max_peak_n, peak_window_s
        |FROM peaks JOIN nw USING (event_type) JOIN top USING (event_type)
        |GROUP BY event_type, n_windows, max_peak_n, peak_window_s
        |ORDER BY event_type""".stripMargin,
    "stats_kruskal_wallis" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT cents, event_type, count(*)::BIGINT AS cnt
        |  FROM e GROUP BY 1, 2),
        |m AS (SELECT cents, sum(cnt)::BIGINT AS m FROM g GROUP BY 1),
        |rk AS (SELECT cents, m,
        |    coalesce(CAST(sum(m) OVER (ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS BIGINT), 0) AS c
        |  FROM m),
        |r2 AS (SELECT event_type,
        |    CAST(sum(cnt * (2 * c + m + 1)) AS BIGINT) AS r2,
        |    CAST(sum(cnt) AS BIGINT) AS ng
        |  FROM g JOIN rk USING (cents) GROUP BY 1),
        |nn AS (SELECT sum(ng)::BIGINT AS n FROM r2),
        |ties AS (SELECT CAST(sum(m * m * m - m) AS BIGINT) AS tsum FROM m),
        |terms AS (SELECT n,
        |    CAST(CAST(r2 AS HUGEINT) * r2 * 3000000
        |      // (CAST(ng AS HUGEINT) * n * (n + 1)) AS BIGINT) AS t
        |  FROM r2 CROSS JOIN nn),
        |agg AS (SELECT n, count(*)::BIGINT AS k_groups,
        |    sum(t)::BIGINT AS s FROM terms GROUP BY n)
        |SELECT n, k_groups, k_groups - 1 AS dof,
        |  s - 3 * (n + 1) * 1000000 AS h_ppm,
        |  CAST(CAST(s - 3 * (n + 1) * 1000000 AS HUGEINT)
        |    * (CAST(n AS HUGEINT) * n * n - n)
        |    // (CAST(n AS HUGEINT) * n * n - n - tsum) AS BIGINT)
        |    AS h_tiecorr_ppm
        |FROM agg CROSS JOIN ties""".stripMargin,
    "stats_fano_burstiness" ->
      """WITH daily AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT max(day) - min(day) + 1 AS d FROM daily),
        |a AS (SELECT event_type, sum(x)::BIGINT AS s,
        |    sum(x * x)::BIGINT AS q, count(*)::BIGINT AS active_days
        |  FROM daily GROUP BY 1)
        |SELECT event_type, d AS span_days, active_days, s AS n_events,
        |  CAST((CAST(d AS HUGEINT) * q - CAST(s AS HUGEINT) * s)
        |    * 1000000 // (CAST(d AS HUGEINT) * s) AS BIGINT) AS fano_ppm
        |FROM a CROSS JOIN span ORDER BY event_type""".stripMargin,
    "stats_odds_ratio" ->
      """WITH e AS (SELECT event_type,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 IN (0, 6) AS wknd,
        |    CAST(round(value * 100) AS BIGINT) >= 3500 AS hi
        |  FROM events),
        |t AS (SELECT event_type,
        |    CAST(sum(CASE WHEN wknd AND hi THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN wknd AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |    CAST(sum(CASE WHEN NOT wknd AND hi THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |    CAST(sum(CASE WHEN NOT wknd AND NOT hi THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM e GROUP BY 1)
        |SELECT event_type, a, b, c, d,
        |  (2*a + 1) * (2*d + 1) * 1000000 // ((2*b + 1) * (2*c + 1)) AS or_ppm
        |FROM t ORDER BY event_type""".stripMargin,
    "stats_herfindahl" ->
      """WITH u AS (SELECT event_type, user_id, count(*)::BIGINT AS nu
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, sum(nu)::BIGINT AS n_events,
        |    count(*)::BIGINT AS n_users, sum(nu * nu)::BIGINT AS q
        |  FROM u GROUP BY 1)
        |SELECT event_type, n_events, n_users,
        |  q * 1000000 // (n_events * n_events) AS hhi_ppm,
        |  n_events * n_events * 1000 // q AS eff_users_x1000
        |FROM a ORDER BY event_type""".stripMargin,
    "events_user_overlap" ->
      """WITH d AS (SELECT DISTINCT user_id, event_type FROM events),
        |sizes AS (SELECT event_type, count(*)::BIGINT AS nu
        |  FROM d GROUP BY 1),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |    count(*)::BIGINT AS n_both
        |  FROM d x JOIN d y ON x.user_id = y.user_id
        |    AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.nu AS na, sb.nu AS nb, n_both,
        |  n_both * 1000000 // (sa.nu + sb.nu - n_both) AS jaccard_ppm
        |FROM i JOIN sizes sa ON sa.event_type = type_a
        |JOIN sizes sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,
    "stats_tukey_outliers" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |rn AS (SELECT event_type, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM e),
        |q AS (SELECT event_type, CAST(n AS BIGINT) AS n,
        |    max(CASE WHEN rn = (n + 3) // 4 THEN cents END) AS q1,
        |    max(CASE WHEN rn = (3 * n + 3) // 4 THEN cents END) AS q3
        |  FROM rn WHERE rn = (n + 3) // 4 OR rn = (3 * n + 3) // 4
        |  GROUP BY 1, 2),
        |f AS (SELECT event_type, n, q1, q3,
        |    q1 - 3 * (q3 - q1) // 2 AS lo_fence,
        |    q3 + 3 * (q3 - q1) // 2 AS hi_fence
        |  FROM q)
        |SELECT event_type, n, q1, q3, lo_fence, hi_fence,
        |  CAST(sum(CASE WHEN cents < lo_fence THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN cents > hi_fence THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_high,
        |  max(CASE WHEN cents > hi_fence THEN cents END) AS max_outlier
        |FROM e JOIN f USING (event_type)
        |GROUP BY event_type, n, q1, q3, lo_fence, hi_fence
        |ORDER BY event_type""".stripMargin,
    "stats_ks_drift" ->
      s"""WITH g AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    CAST(sum(CASE WHEN epoch_us(ts) < $psiCutUs THEN 1 ELSE 0 END)
        |      AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN epoch_us(ts) < $psiCutUs THEN 0 ELSE 1 END)
        |      AS BIGINT) AS nq
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(np) AS BIGINT) AS n_pre,
        |    CAST(sum(nq) AS BIGINT) AS n_post FROM g GROUP BY 1),
        |c AS (SELECT event_type, cents,
        |    CAST(sum(np) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp,
        |    CAST(sum(nq) OVER (PARTITION BY event_type ORDER BY cents
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cq
        |  FROM g),
        |d AS (SELECT c.event_type, n_pre, n_post,
        |    abs(cp * n_post - cq * n_pre) AS d
        |  FROM c JOIN tot ON c.event_type = tot.event_type)
        |SELECT event_type, n_pre, n_post,
        |  CAST(max(d) * 1000000 // (n_pre * n_post) AS BIGINT) AS ks_ppm
        |FROM d GROUP BY event_type, n_pre, n_post
        |ORDER BY event_type""".stripMargin,
    "events_interpolate" ->
      """WITH agg AS (
        |  SELECT (epoch_us(ts) - epoch_us(ts) % 600000000) // 1000000 AS window_start,
        |    event_type, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM agg),
        |grid AS (SELECT t.event_type, u.g AS window_start
        |  FROM (SELECT DISTINCT event_type FROM events) t, b,
        |    LATERAL unnest(generate_series(b.lo, b.hi, 600)) u(g)),
        |j AS (SELECT g.window_start, g.event_type, coalesce(a.n, 0) AS n,
        |    CASE WHEN a.n > 0 THEN a.sum_cents // a.n END AS known,
        |    CASE WHEN a.n > 0 THEN g.window_start END AS known_ts
        |  FROM grid g LEFT JOIN agg a
        |    ON g.window_start = a.window_start AND g.event_type = a.event_type),
        |w AS (SELECT window_start, event_type, n, known,
        |    last_value(known IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY window_start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    last_value(known_ts IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY window_start
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        |    first_value(known IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY window_start
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    first_value(known_ts IGNORE NULLS) OVER (PARTITION BY event_type
        |      ORDER BY window_start
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        |  FROM j)
        |SELECT window_start, event_type, n,
        |  CASE WHEN n > 0 THEN known
        |    WHEN pv IS NULL THEN nv
        |    WHEN nv IS NULL THEN pv
        |    ELSE pv + (nv - pv) * (window_start - pt) // (nt - pt) END
        |    AS interp_cents
        |FROM w ORDER BY window_start, event_type""".stripMargin,
    "events_sliding" ->
      """SELECT (epoch_us(ts) - epoch_us(ts) % 300000000) // 1000000 - i * 300 AS window_start,
        |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events, LATERAL unnest(range(0, 2)) AS t(i)
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |flagged AS (SELECT *,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (SELECT *, sum(new_session) OVER
        |  (PARTITION BY user_id ORDER BY ts_us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  count(*) AS n_events,
        |  min(ts_us) AS session_start_us,
        |  max(ts_us) - min(ts_us) AS duration_us,
        |  round(sum(value), 2) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,
    "events_rate_limit" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  epoch_us(ts) AS ts_us FROM events),
        |r AS (SELECT *, row_number() OVER
        |  (PARTITION BY user_id, event_type, ts_us // 60000000
        |   ORDER BY ts_us, event_id) AS rk FROM e)
        |SELECT user_id, event_type, event_id, ts_us FROM r WHERE rk = 1
        |ORDER BY user_id, event_type, ts_us""".stripMargin,
    "events_winsorized" ->
      """WITH e AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |cuts AS (SELECT event_type,
        |  CAST(floor(quantile_cont(cents, 0.05)) AS BIGINT) AS p5c,
        |  CAST(floor(quantile_cont(cents, 0.95)) AS BIGINT) AS p95c
        |  FROM e GROUP BY event_type),
        |clipped AS (SELECT e.event_type, c.p5c, c.p95c,
        |    greatest(least(e.cents, c.p95c), c.p5c) AS v
        |  FROM e JOIN cuts c ON c.event_type = e.event_type)
        |SELECT event_type, p5c, p95c, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS clipped_sum,
        |  CAST(sum(v) AS BIGINT) // count(*) AS wmean_cents
        |FROM clipped GROUP BY event_type, p5c, p95c
        |ORDER BY event_type""".stripMargin,
    "events_cuped_ab" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN epoch_us(ts) < 1705363200000000
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN epoch_us(ts) >= 1705363200000000
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |pv AS (SELECT user_id % 2 AS variant, x, y FROM pu),
        |g AS (SELECT variant, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |    CAST(sum(y) AS BIGINT) AS sy FROM pv GROUP BY variant),
        |t AS (SELECT count(*) AS tn, CAST(sum(x) AS BIGINT) AS tsx,
        |    CAST(sum(y) AS BIGINT) AS tsy,
        |    CAST(sum(x * x) AS BIGINT) AS tsxx,
        |    CAST(sum(x * y) AS BIGINT) AS tsxy FROM pv),
        |j AS (SELECT variant, n, sx, sy,
        |    round(CAST(tn * tsxy - tsx * tsy AS DOUBLE) /
        |      CAST(tn * tsxx - tsx * tsx AS DOUBLE), 6) AS theta6,
        |    CAST(tsx AS DOUBLE) / CAST(tn AS DOUBLE) AS xbar
        |  FROM g CROSS JOIN t)
        |SELECT variant, n, sx, sy, theta6,
        |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 4) AS raw_mean_cents,
        |  round((CAST(sy AS DOUBLE) - theta6 *
        |    (CAST(sx AS DOUBLE) - CAST(n AS DOUBLE) * xbar)) /
        |    CAST(n AS DOUBLE), 4) AS adj_mean_cents
        |FROM j ORDER BY variant""".stripMargin,
    "stats_tost_equivalence" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |g AS (SELECT user_id % 2 AS v, count(*)::BIGINT AS n,
        |    CAST(sum(y) AS BIGINT) AS sy FROM pu GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM pu),
        |d AS (SELECT
        |    (SELECT n FROM g WHERE v = 0) AS n0,
        |    (SELECT sy FROM g WHERE v = 0) AS s0,
        |    (SELECT n FROM g WHERE v = 1) AS n1,
        |    (SELECT sy FROM g WHERE v = 1) AS s1,
        |    sy::DOUBLE / n::DOUBLE AS mu,
        |    (n * syy - sy * sy)::DOUBLE / (n * (n - 1))::DOUBLE AS var
        |  FROM t),
        |x AS (SELECT n0, n1,
        |    s0::DOUBLE / n0::DOUBLE - s1::DOUBLE / n1::DOUBLE AS delta,
        |    sqrt(var * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)) AS se,
        |    0.05 * mu AS margin
        |  FROM d)
        |SELECT n0, n1, round(delta, 4) AS delta_cents,
        |  round(se, 4) AS se_cents, round(margin, 4) AS margin_cents,
        |  (delta + 1.645 * se < margin AND delta - 1.645 * se > -margin)
        |    AS equivalent
        |FROM x""".stripMargin,
    "stats_anova_f" ->
      """WITH g AS (SELECT event_type, count(*)::BIGINT AS ng,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT) *
        |      CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS qg
        |  FROM events GROUP BY 1),
        |t AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
        |    CAST(sum(sg) AS BIGINT) AS st, count(*)::BIGINT AS k FROM g),
        |a AS (SELECT CAST(sum((qg * ng - sg * sg) // ng) AS BIGINT) AS ssw,
        |    CAST(sum((sg * sg) // ng) AS BIGINT) AS bsum FROM g),
        |d AS (SELECT k, n, bsum - (st * st) // n AS ssb_floor,
        |    ssw AS ssw_floor FROM a CROSS JOIN t)
        |SELECT k, n, ssb_floor, ssw_floor,
        |  round((ssb_floor * (n - k))::DOUBLE /
        |    ((ssw_floor * (k - 1))::DOUBLE), 4) AS f_stat
        |FROM d""".stripMargin,
    "stats_permutation_test" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |obs AS (SELECT user_id % 2 AS v, count(*)::BIGINT AS n,
        |    CAST(sum(y) AS BIGINT) AS sy FROM pu GROUP BY 1),
        |o AS (SELECT
        |    (SELECT n FROM obs WHERE v = 0) AS n0,
        |    (SELECT sy FROM obs WHERE v = 0) AS s0,
        |    (SELECT n FROM obs WHERE v = 1) AS n1,
        |    (SELECT sy FROM obs WHERE v = 1) AS s1),
        |rep AS (SELECT y, tt.b,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||
        |      CAST(tt.b // 32 AS VARCHAR)),
        |      CAST(1 + tt.b % 32 AS INT), 1))::BIGINT % 2 AS vb
        |  FROM pu, range(0, 64) tt(b)),
        |perm AS (SELECT b,
        |    CAST(sum(CASE WHEN vb = 0 THEN y ELSE 0 END) AS BIGINT) AS s0b,
        |    CAST(sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0b,
        |    CAST(sum(CASE WHEN vb = 1 THEN y ELSE 0 END) AS BIGINT) AS s1b,
        |    CAST(sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1b
        |  FROM rep GROUP BY 1
        |  HAVING sum(CASE WHEN vb = 0 THEN 1 ELSE 0 END) > 0
        |    AND sum(CASE WHEN vb = 1 THEN 1 ELSE 0 END) > 0),
        |x AS (SELECT n0, n1,
        |    round(s0::DOUBLE / n0::DOUBLE - s1::DOUBLE / n1::DOUBLE, 4)
        |      AS delta_obs_cents,
        |    CASE WHEN abs(s0b * n1b - s1b * n0b) * (n0 * n1) >=
        |      abs(s0 * n1 - s1 * n0) * (n0b * n1b) THEN 1 ELSE 0 END AS ex
        |  FROM perm CROSS JOIN o)
        |SELECT n0, n1, delta_obs_cents, count(*)::BIGINT AS n_perms,
        |  CAST(sum(ex) AS BIGINT) AS n_extreme,
        |  CAST(sum(ex) AS BIGINT) * 1000 // count(*) AS p_x1000
        |FROM x GROUP BY 1, 2, 3""".stripMargin,
    "events_power_analysis" ->
      """WITH pu AS (SELECT user_id,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |v AS (SELECT user_id % 2 AS variant, y FROM pu),
        |arms AS (SELECT variant, count(*)::BIGINT AS na FROM v GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS n, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(y * y) AS BIGINT) AS syy FROM pu),
        |d AS (SELECT n,
        |    (SELECT na FROM arms WHERE variant = 0) AS n0,
        |    (SELECT na FROM arms WHERE variant = 1) AS n1,
        |    sy::DOUBLE / n::DOUBLE AS mu,
        |    (n * syy - sy * sy)::DOUBLE / (n * (n - 1))::DOUBLE AS var
        |  FROM t)
        |SELECT n, n0, n1, round(mu, 4) AS mean_cents,
        |  round(sqrt(var), 4) AS sd_cents,
        |  round(2.8 * sqrt(var * (1.0 / n0::DOUBLE + 1.0 / n1::DOUBLE)), 4)
        |    AS mde_cents,
        |  CAST(ceil(2.0 * var * 2.8 * 2.8 / (0.05 * mu * (0.05 * mu)))
        |    AS BIGINT) AS n_per_arm_5pct
        |FROM d""".stripMargin,
    "events_ab_ztest" ->
      """WITH conv AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150
        |      THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY user_id),
        |g AS (SELECT user_id % 2 AS variant, count(*) AS n,
        |    CAST(sum(converted) AS BIGINT) AS k
        |  FROM conv GROUP BY 1),
        |a AS (SELECT n AS n0, k AS k0 FROM g WHERE variant = 0),
        |b AS (SELECT n AS n1, k AS k1 FROM g WHERE variant = 1)
        |SELECT n0, k0, n1, k1,
        |  round((CAST(k0 AS DOUBLE) / CAST(n0 AS DOUBLE)
        |      - CAST(k1 AS DOUBLE) / CAST(n1 AS DOUBLE)) /
        |    sqrt((CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
        |      (1.0 - CAST(k0 + k1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)) *
        |      (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))), 6) AS z6
        |FROM a CROSS JOIN b""".stripMargin,
    "events_cumulative_users" ->
      """WITH f AS (SELECT user_id,
        |  min(epoch_us(ts) // 3600000000) AS hour FROM events GROUP BY user_id),
        |n AS (SELECT hour, count(*) AS new_users FROM f GROUP BY hour)
        |SELECT hour, new_users, CAST(sum(new_users) OVER
        |  (ORDER BY hour ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
        |FROM n ORDER BY hour""".stripMargin,
    "events_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (SELECT user_id, day, day - row_number() OVER
        |  (PARTITION BY user_id ORDER BY day) AS island FROM d),
        |g AS (SELECT user_id, island, count(*) AS len FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_islands, max(len) AS max_streak
        |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin,
    "events_anomaly_mad" ->
      """WITH e AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type,
        |  CAST(floor(quantile_cont(cents, 0.5)) AS BIGINT) AS med
        |  FROM e GROUP BY event_type),
        |dev AS (SELECT e.event_type, m.med, abs(e.cents - m.med) AS absdev
        |  FROM e JOIN med m ON m.event_type = e.event_type),
        |mad AS (SELECT event_type, med,
        |    CAST(floor(quantile_cont(absdev, 0.5)) AS BIGINT) AS mad,
        |    max(absdev) AS max_absdev
        |  FROM dev GROUP BY event_type, med)
        |SELECT d.event_type, m.med, m.mad,
        |  count(*) FILTER (d.absdev > 3 * m.mad) AS n_anom, m.max_absdev
        |FROM dev d JOIN mad m ON m.event_type = d.event_type
        |GROUP BY d.event_type, m.med, m.mad, m.max_absdev
        |ORDER BY d.event_type""".stripMargin,
    "stats_psi_drift" -> {
      val cutCols = (1 to 9).map(i =>
        s"CAST(floor(quantile_cont(cents, 0.$i)) AS BIGINT) AS c$i")
        .mkString(",\n        |    ")
      val bucketSum = (1 to 9).map(i =>
        s"CASE WHEN cents >= c$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents,
        |  (epoch_us(ts) < 1705363200000000) AS is_ref FROM events),
        |cuts AS (SELECT event_type,
        |    $cutCols
        |  FROM e WHERE is_ref GROUP BY event_type),
        |counted AS (
        |  SELECT e.event_type, $bucketSum AS bucket,
        |    count(*) FILTER (is_ref)::BIGINT AS n1,
        |    count(*) FILTER (NOT is_ref)::BIGINT AS n2
        |  FROM e JOIN cuts c ON c.event_type = e.event_type
        |  GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n1) AS BIGINT) AS big_n1,
        |    CAST(sum(n2) AS BIGINT) AS big_n2
        |  FROM counted GROUP BY event_type),
        |terms AS (SELECT c.event_type, t.big_n1, t.big_n2,
        |    c.n1 * t.big_n2 - c.n2 * t.big_n1 AS diff,
        |    CAST(floor(1000000.0 * ln(
        |      CAST(c.n1 * t.big_n2 AS DOUBLE) /
        |      CAST(c.n2 * t.big_n1 AS DOUBLE))) AS BIGINT) AS ln_ppm
        |  FROM counted c JOIN tot t ON t.event_type = c.event_type
        |  WHERE c.n1 > 0 AND c.n2 > 0)
        |SELECT event_type, big_n1 AS n_ref, big_n2 AS n_cur,
        |  count(*) AS n_buckets,
        |  CAST(sum(diff * ln_ppm // (big_n1 * big_n2)) AS BIGINT) AS psi_ppm
        |FROM terms GROUP BY event_type, big_n1, big_n2
        |ORDER BY event_type""".stripMargin
    },
    "join_band_eps" ->
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |l AS (SELECT event_type, event_id, cents, cents // 50 + d.d AS bucket
        |  FROM e, LATERAL unnest([-1, 0, 1]) AS d(d)),
        |p AS (SELECT l.event_type, abs(l.cents - r.cents) AS gap
        |  FROM l JOIN e r ON r.event_type = l.event_type
        |    AND r.cents // 50 = l.bucket
        |    AND l.event_id < r.event_id
        |    AND abs(l.cents - r.cents) <= 50)
        |SELECT event_type, count(*) AS n_pairs,
        |  CAST(sum(gap) AS BIGINT) AS sum_gap, max(gap) AS max_gap
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin,
    "events_equidepth_bins" ->
      """WITH e AS (SELECT event_type, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |b AS (SELECT event_type, cents, CAST(ntile(10) OVER
        |  (PARTITION BY event_type ORDER BY cents, event_id) AS BIGINT) AS bin
        |  FROM e)
        |SELECT event_type, bin, count(*) AS n,
        |  min(cents) AS lo_cents, max(cents) AS hi_cents
        |FROM b GROUP BY event_type, bin
        |ORDER BY event_type, bin""".stripMargin,
    "events_ewma" -> {
      val terms = (0 until 20).map(k =>
        s"coalesce(lag(cents, $k) OVER w, 0) * ${1L << (19 - k)}")
        .mkString(" + ")
      s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type,
        |  CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_type, event_id, CAST($terms AS BIGINT) AS ema_scaled
        |FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)
        |ORDER BY event_type, event_id""".stripMargin
    },
    "events_pmi_cooccur" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events),
        |flagged AS (SELECT *,
        |  CASE WHEN lag(ts_us) OVER w IS NULL
        |    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |sess AS (SELECT *, sum(new_session) OVER
        |  (PARTITION BY user_id ORDER BY ts_us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM flagged),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM sess),
        |nn AS (SELECT count(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |cx AS (SELECT event_type, count(*) AS c FROM st GROUP BY 1),
        |pairs AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
        |  FROM st a JOIN st b
        |    ON a.user_id = b.user_id AND a.session_seq = b.session_seq
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.c_ab,
        |  CAST(floor(1000000.0 *
        |    ln((CAST(p.c_ab AS DOUBLE) * nn.n_sessions) /
        |       (CAST(ca.c AS DOUBLE) * cb.c))) AS BIGINT) AS pmi6
        |FROM pairs p
        |JOIN cx ca ON ca.event_type = p.type_a
        |JOIN cx cb ON cb.event_type = p.type_b
        |CROSS JOIN nn
        |ORDER BY type_a, type_b""".stripMargin,
    "events_latest" ->
      """SELECT user_id, event_id, ts_us, event_type FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |    row_number() OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        |  FROM events) WHERE rk = 1
        |ORDER BY user_id""".stripMargin,
    // DuckDB's native ASOF JOIN is the oracle for the window-composed form
    "events_asof_join" ->
      """WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (SELECT user_id, epoch_us(ts) AS ts_us,
        |  event_id AS p_event_id, value AS p_value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, c.event_id,
        |  p.p_event_id AS r_p_event_id, p.p_value AS r_p_value
        |FROM clicks c ASOF JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY c.event_id""".stripMargin,
    "events_range_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events)
        |SELECT a.user_id, a.event_id AS id_a, b.event_id AS id_b,
        |  b.ts_us - a.ts_us AS gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
        |  AND abs(b.ts_us - a.ts_us) <= 60000000
        |ORDER BY id_a, id_b""".stripMargin,
    // cascading min-reach CTEs mirror funnelReach's fold; inner joins
    // (vs Spark's left join + count(non-null)) count the same users
    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, t1, min(ts_us) AS t2 FROM s1 JOIN e
        |  ON s1.user_id = e.user_id AND e.event_type = 'click' AND e.ts_us >= s1.t1
        |  GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, t2, min(ts_us) AS t3 FROM s2 JOIN e
        |  ON s2.user_id = e.user_id AND e.event_type = 'purchase' AND e.ts_us >= s2.t2
        |  GROUP BY 1, 2)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
        |    count(*) AS users, CAST(0 AS BIGINT) AS sum_gap_us FROM s1
        |  UNION ALL SELECT 2, 'click', count(*),
        |    CAST(COALESCE(sum(t2 - t1), 0) AS BIGINT) FROM s2
        |  UNION ALL SELECT 3, 'purchase', count(*),
        |    CAST(COALESCE(sum(t3 - t2), 0) AS BIGINT) FROM s3)
        |ORDER BY stage""".stripMargin,
    // the same cumulative window + excursion fold in DuckDB
    "events_cusum" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type,
        |    CAST(sum(cents) AS BIGINT) // CAST(count(*) AS BIGINT) AS mean_cents
        |  FROM e GROUP BY 1),
        |c AS (SELECT e.event_type AS event_type, cents - mean_cents AS dev,
        |    mean_cents,
        |    sum(cents - mean_cents) OVER (PARTITION BY e.event_type
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
        |  FROM e JOIN m ON m.event_type = e.event_type)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(max(mean_cents) AS BIGINT) AS mean_cents,
        |  CAST(max(cusum) AS BIGINT) AS max_cusum,
        |  CAST(min(cusum) AS BIGINT) AS min_cusum,
        |  CAST(sum(abs(dev)) AS BIGINT) AS abs_dev,
        |  greatest(max(cusum), -min(cusum)) * 10 >= CAST(sum(abs(dev)) AS BIGINT)
        |    AS drift
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the hold-until-successor weights via lead() — same tie-break
    // (ts, event_id) as the Spark window; final observations drop
    "events_twap" ->
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |g AS (SELECT event_type, cents,
        |    lead(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id)
        |      - ts_us AS dt_us
        |  FROM e)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dt_us) AS BIGINT) AS total_us,
        |  CAST(sum(cents * dt_us) AS BIGINT) AS weighted_cents_us,
        |  CAST(sum(cents * dt_us) AS BIGINT) // CAST(sum(dt_us) AS BIGINT)
        |    AS twap_cents
        |FROM g WHERE dt_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the funnel cascade carrying t1 through to the conversion tail;
    // exact interpolated percentiles mirror Spark's `percentile`
    "events_funnel_latency" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
        |  WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, t1, min(ts_us) AS t2 FROM s1 JOIN e
        |  ON s1.user_id = e.user_id AND e.event_type = 'click' AND e.ts_us >= s1.t1
        |  GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, min(ts_us) AS t3 FROM s2 JOIN e
        |  ON s2.user_id = e.user_id AND e.event_type = 'purchase' AND e.ts_us >= s2.t2
        |  GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(t3 - t1, 0.5), 2) AS p50_us,
        |  round(quantile_cont(t3 - t1, 0.9), 2) AS p90_us,
        |  round(quantile_cont(t3 - t1, 0.99), 2) AS p99_us
        |FROM s3""".stripMargin,
    "events_retention" ->
      """WITH days AS (SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day FROM events),
        |coh AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset, count(*) AS n_users
        |FROM days JOIN coh USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    // the anomaly/resample/transition CTEs composed on event_type
    "events_capstone" ->
      """WITH e AS (SELECT event_type, user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(v_c) AS BIGINT) AS s, CAST(sum(v_c * v_c) AS BIGINT) AS s2
        |  FROM e GROUP BY 1),
        |st2 AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mean_c,
        |    sqrt(CAST(s2 AS DOUBLE) / n
        |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS std_c
        |  FROM st),
        |anom AS (SELECT e.event_type, count(*) AS n_events,
        |    CAST(sum(CASE WHEN abs(v_c - mean_c) > 2.0 * std_c THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_anomalies
        |  FROM e JOIN st2 USING (event_type) GROUP BY 1),
        |agg AS (SELECT (ts_us - ts_us % 600000000) // 1000000 AS window_start,
        |    event_type, count(*) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(window_start) AS lo, max(window_start) AS hi FROM agg),
        |grid AS (SELECT t.event_type, u.g AS window_start
        |  FROM (SELECT DISTINCT event_type FROM e) t, b,
        |    LATERAL unnest(generate_series(b.lo, b.hi, 600)) u(g)),
        |win AS (SELECT g.event_type,
        |    CAST(sum(CASE WHEN coalesce(n, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_windows_active,
        |    CAST(sum(CASE WHEN coalesce(n, 0) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_windows_empty
        |  FROM grid g LEFT JOIN agg a
        |    ON g.window_start = a.window_start AND g.event_type = a.event_type
        |  GROUP BY 1),
        |tr AS (SELECT event_type, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_type FROM e),
        |outb AS (SELECT prev_type AS event_type, count(*) AS n_outbound
        |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1),
        |inb AS (SELECT event_type, count(*) AS n_inbound
        |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_events, n_anomalies, n_windows_active,
        |  n_windows_empty, n_outbound, n_inbound
        |FROM anom JOIN win USING (event_type) JOIN outb USING (event_type)
        |  JOIN inb USING (event_type)
        |ORDER BY event_type""".stripMargin,
    "events_regression" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 1000000 - 1704067200 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y FROM events),
        |s AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT event_type, n,
        |  floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |    * 86400.0 * 10000.0) AS slope_cents_per_day_e4
        |FROM s ORDER BY event_type""".stripMargin,
    // same exact-integer-cents stats pipeline; (s/n) recomputed inline is
    // the same double as Spark's materialized mean_c
    "events_anomaly_zscore" ->
      """WITH e AS (SELECT event_type,
        |    CAST(round(value * 100) AS BIGINT) AS v_c FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(v_c) AS BIGINT) AS s, CAST(sum(v_c * v_c) AS BIGINT) AS s2
        |  FROM e GROUP BY 1),
        |st2 AS (SELECT event_type, CAST(s AS DOUBLE) / n AS mean_c,
        |    sqrt(CAST(s2 AS DOUBLE) / n
        |      - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) AS std_c
        |  FROM st)
        |SELECT e.event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN abs(v_c - mean_c) > 2.0 * std_c THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies,
        |  max(CASE WHEN abs(v_c - mean_c) > 2.0 * std_c THEN v_c END) AS max_anom_cents
        |FROM e JOIN st2 USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_moving_window" ->
      """SELECT user_id, event_id,
        |  count(*) OVER w AS n_prev_hour,
        |  CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT)) OVER w, 0)
        |    AS BIGINT) AS sum_prev_hour_cents
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,
    "events_transitions" ->
      """WITH t AS (SELECT event_type, lag(event_type) OVER
        |    (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        |  FROM events)
        |SELECT prev_type, event_type, count(*) AS n FROM t
        |WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_type, event_type""".stripMargin,
    "events_attribution" -> attributionSql,

    "events_lag_lead" ->
      """SELECT user_id, event_id, v_c, prev_cents, next_cents,
        |  v_c - coalesce(prev_cents, v_c) AS delta_cents
        |FROM (SELECT user_id, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS v_c,
        |    lag(CAST(round(value * 100) AS BIGINT)) OVER w AS prev_cents,
        |    lead(CAST(round(value * 100) AS BIGINT)) OVER w AS next_cents
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
        |ORDER BY event_id""".stripMargin)
}
