package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch analogs of the streaming event operators (SURVEY §2.3): JSON
  * property extraction, tumbling windows, gap-based sessionization,
  * latest-per-key compaction. The streaming forms live in
  * [[graft.streaming.CdcStream]]; these batch forms are oracle-testable
  * and share the same semantics.
  *
  * Time is carried as epoch-microsecond longs (`ts_us`) because the
  * source parquet is nanosecond-precision (Tables.events); integer window
  * math is exact and engine-portable.
  */
object EventOps {

  /** Tumbling-window start (epoch seconds) for a window of `seconds`.
    * Spark's `/` on longs is double division; subtracting the modulus
    * keeps the arithmetic exact in integers (the final /1e6 divides a
    * multiple of 1e6 < 2^53, exact in double). */
  def tumblingWindowStart(tsUs: Column, seconds: Long): Column = {
    val winUs = lit(1000000L * seconds)
    ((tsUs - pmod(tsUs, winUs)) / lit(1000000L)).cast("long")
  }

  /** Tumbling-window aggregation: events per (window, event_type). */
  def tumblingAgg(events: DataFrame, seconds: Long): DataFrame =
    events
      .groupBy(tumblingWindowStart(col("ts_us"), seconds).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("sum_value"))

  /** Sliding-window aggregation: each event contributes to the
    * `lengthSeconds / slideSeconds` overlapping windows covering it —
    * the standard explode-then-group formulation (`window(ts, len,
    * slide)` does exactly this internally). Integer-µs math like
    * [[tumblingWindowStart]]; replication factor len/slide is the
    * inherent cost of sliding semantics, then ONE shuffle on
    * (window, type). */
  def slidingAgg(events: DataFrame, lengthSeconds: Long, slideSeconds: Long): DataFrame = {
    require(lengthSeconds % slideSeconds == 0,
      s"length=$lengthSeconds must be a multiple of slide=$slideSeconds")
    val k = (lengthSeconds / slideSeconds).toInt
    val slideUs = lit(1000000L * slideSeconds)
    val anchor = (col("ts_us") - pmod(col("ts_us"), slideUs)) / lit(1000000L)
    events
      .select(col("ts_us"), col("event_type"), col("value"),
        explode(sequence(lit(0), lit(k - 1))).as("_i"))
      .groupBy((anchor.cast("long") - col("_i") * lit(slideSeconds)).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
  }

  /** Gap-filled tumbling resample: [[tumblingAgg]] left-joined onto the
    * complete (event_type × window) grid between the log's first and
    * last window, zero-filling windows with no events — the time-series
    * resampling every monitoring/feature pipeline needs (a plain groupBy
    * silently omits empty windows, so downstream diffs/moving averages
    * misalign). The grid is generated distributively: the 1-row global
    * bounds broadcast against the distinct key set, then
    * `sequence`-exploded — grid size is (time span / window) × key
    * cardinality, bounded by time and keys, never by event volume. */
  def resampleTumbling(events: DataFrame, seconds: Long): DataFrame = {
    val agg = tumblingAgg(events, seconds)
    val bounds = events.select(tumblingWindowStart(col("ts_us"), seconds).as("w"))
      .agg(min(col("w")).as("lo"), max(col("w")).as("hi"))
    val grid = events.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(seconds))).as("window_start"))
    grid.join(agg, Seq("window_start", "event_type"), "left")
      .select(col("window_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
  }

  /** [[resampleTumbling]] with LAST-OBSERVATION-CARRIED-FORWARD fill —
    * the time-series gap-fill every metrics store exposes (`LOCF` /
    * `fill(prev)`): empty buckets inherit the newest non-empty bucket's
    * value per series instead of zero. Values quantize to integer cents
    * at the ROW level (order-independent sums — the mirror discipline),
    * and the carry is one `last(..., ignoreNulls)` frame per series —
    * the window shuffles the small (series × bucket) grid, never the
    * event log. */
  def resampleLocf(events: DataFrame, seconds: Long): DataFrame = {
    val agg = events
      .groupBy(tumblingWindowStart(col("ts_us"), seconds).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
    val bounds = agg.agg(min(col("window_start")).as("lo"),
      max(col("window_start")).as("hi"))
    val grid = events.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(seconds))).as("window_start"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(agg, Seq("window_start", "event_type"), "left")
      .withColumn("filled_cents", coalesce(
        last(when(col("n") > 0, col("sum_cents")), ignoreNulls = true).over(w),
        lit(0L)))
      .select(col("window_start"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"), col("filled_cents"))
  }

  /** [[resampleLocf]]'s LINEAR sibling: missing buckets interpolate
    * between the surrounding known bucket means instead of holding the
    * last one —
    *
    *   interp = prev + (next − prev)·(t − t_prev) div (t_next − t_prev)
    *
    * with LOCF at the trailing edge and backfill at the leading edge
    * (no second anchor to interpolate toward). All integer: bucket
    * mean = sum_cents div n (non-negative), and the interpolation
    * numerator may be negative — BOTH engines' integer division
    * truncates toward zero (Spark `div`, DuckDB `//` — verified, not
    * assumed), so the convention matches without a floor rewrite. Two
    * window passes over the same per-series grid the LOCF form builds:
    * the backward (prev anchor) and forward (next anchor) scans. */
  def resampleInterpolate(events: DataFrame, seconds: Long): DataFrame = {
    val agg = events
      .groupBy(tumblingWindowStart(col("ts_us"), seconds).as("window_start"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"))
    val bounds = agg.agg(min(col("window_start")).as("lo"),
      max(col("window_start")).as("hi"))
    val grid = events.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(seconds))).as("window_start"))
    val back = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("event_type")).orderBy(col("window_start"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val known = when(col("n") > 0, expr("sum_cents div n"))
    val knownTs = when(col("n") > 0, col("window_start"))
    grid.join(agg, Seq("window_start", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("pv", last(known, ignoreNulls = true).over(back))
      .withColumn("pt", last(knownTs, ignoreNulls = true).over(back))
      .withColumn("nv", first(known, ignoreNulls = true).over(fwd))
      .withColumn("nt", first(knownTs, ignoreNulls = true).over(fwd))
      .select(col("window_start"), col("event_type"), col("n"),
        when(col("n") > 0, expr("sum_cents div n"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + expr(
            "(nv - pv) * (window_start - pt) div (nt - pt)"))
          .as("interp_cents"))
  }

  /** Time-weighted average per series — the metrics-store `TWAP`:
    * each observation holds until the next one, so its weight is the
    * µs gap to the successor (the final observation contributes
    * nothing — no successor to hold until). Exact integer arithmetic:
    * cents × µs products stay far inside long at any fixture scale,
    * summed order-independently; the ONE window is a per-series `lead`
    * (the same user/series partitioning a 100 TB event log already
    * has). Output keeps the exact integer numerator/denominator plus
    * the floored-cents average — no precision-scaling multiply, which
    * would overflow long at Σ(cents·µs) ≈ 1.5e17 on this fixture.
    *
    * CONVENTION (ADVICE r14): `twap_cents` uses Spark `div`, which
    * truncates toward zero, while the DuckDB mirror uses `//`, which
    * floors — they agree only because the weighted cents sum is
    * non-negative (value is a price-like measure everywhere in this
    * suite). A signed-measure series would need a floor-div here. */
  def timeWeightedAvg(events: DataFrame, seriesCol: String): DataFrame = {
    val w = Window.partitionBy(col(seriesCol))
      .orderBy(col("ts_us"), col("event_id"))
    events
      .withColumn("next_ts", lead(col("ts_us"), 1).over(w))
      .filter(col("next_ts").isNotNull)
      .select(col(seriesCol),
        (col("next_ts") - col("ts_us")).as("dt_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(col(seriesCol))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("dt_us")).as("total_us"),
        sum(col("cents") * col("dt_us")).as("weighted_cents_us"))
      .withColumn("twap_cents",
        expr("weighted_cents_us div total_us"))
  }

  /** Per-event session labels: the gap-based session assignment that
    * [[sessionize]] aggregates and [[pmiCooccurrence]] mines. One
    * user-partitioned window pass, no shuffle beyond the user key. */
  def sessionAssignments(events: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    events.withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_session")
  }

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapUs`. Classic
    * lag + cumulative-sum-of-flags window composition — one shuffle on
    * user_id, which is exactly the partitioning a 100 TB event log would
    * already have. */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val flagged = sessionAssignments(events, gapUs)
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  /** 20-tap exponential moving average with α = ½, ALL-INTEGER: the
    * EWMA weights 2^-k are dyadic, so scaling by 2^(taps-1) turns the
    * whole filter into a BIGINT dot product — no float drift anywhere,
    * bit-equal on any engine. The general recursive EWMA is not
    * window-expressible (each state folds the previous), but the
    * truncated filter is: `taps` lag terms over ONE window spec = one
    * WindowExec pass per series; the tail beyond 20 taps carries weight
    * < 2^-19 — below the cent quantum for any bounded series. Missing
    * leading lags coalesce to 0 (the zero-padded filter). */
  def ewmaScaled(events: DataFrame, taps: Int = 20): DataFrame = {
    // the scaled dot needs max|cents| ≲ 2^(62-taps) to fit the Long
    // accumulator (the k=0 term alone is cents·2^(taps-1)); the [1,44]
    // bound therefore assumes |cents| < ~2^18 — true for this fixture's
    // bounded `value` column, NOT for arbitrary 2^31-cent series (those
    // need taps ≤ 31). taps < 1 makes the reduce throw an opaque
    // empty-list error — misuse fails loudly at plan time (ADVICE r16)
    require(taps >= 1 && taps <= 44,
      s"ewmaScaled: taps must be in [1, 44], got $taps")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val base = events.select(col("event_type"), col("event_id"), col("ts_us"),
      round(col("value") * 100).cast("long").as("cents"))
    val ema = (0 until taps).map(k =>
        coalesce(lag(col("cents"), k).over(w), lit(0L)) *
          lit(1L << (taps - 1 - k)))
      .reduce(_ + _)
    base.select(col("event_type"), col("event_id"), ema.as("ema_scaled"))
  }

  /** Pointwise mutual information between event types that co-occur in
    * a session: PMI(a,b) = ln(P(a,b)/(P(a)P(b))) over the session unit,
    * quantized to `floor(1e6·ln(...))` (the BM25-idf integer trick —
    * ln is correctly rounded on both engines, the floored micro-units
    * hash-compare exactly).
    *
    * Per-session pair expansion is bounded by (distinct types per
    * session)² — a handful — so the self-join keyed on the session
    * never goes all-pairs; marginals broadcast (type-vocabulary-sized),
    * the session count joins as a broadcast singleton. Linear in
    * |events| at 100 TB. */
  def pmiCooccurrence(events: DataFrame, gapUs: Long): DataFrame = {
    val st = sessionAssignments(events, gapUs)
      .select(col("user_id"), col("session_seq"), col("event_type")).distinct()
    val nSessions = st.select(col("user_id"), col("session_seq")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val marginals = st.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
    val pairs = st.as("a").join(st.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_seq") === col("b.session_seq") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(marginals.select(col("event_type").as("type_a"),
        col("c").as("c_a"))), Seq("type_a"))
      .join(broadcast(marginals.select(col("event_type").as("type_b"),
        col("c").as("c_b"))), Seq("type_b"))
      .crossJoin(broadcast(nSessions))
      .select(col("type_a"), col("type_b"), col("c_ab"),
        floor(lit(1000000.0) *
          log((col("c_ab").cast("double") * col("n_sessions")) /
            (col("c_a").cast("double") * col("c_b")))).cast("long").as("pmi6"))
  }

  /** Latest event per key — the batch form of CDC log compaction. */
  def latestPerKey(events: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    events.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
  }

  /** Extract a JSON property (the `data jsonb` access pattern of the
    * reference, `sql/triggers.sql:67`) as a long. */
  def jsonProp(props: Column, key: String): Column =
    get_json_object(props, s"$$.$key").cast("long")

  /** As-of join: for each left row, the latest right row with the same
    * key and right.ts <= left.ts. Spark has no native as-of join; rather
    * than a custom physical operator, this composes built-ins — union the
    * two sides, then `last_value(ignoreNulls)` over a (key, ts) window —
    * which Catalyst plans as ONE shuffle on the key (the partitioning a
    * time-series table already has). Right rows at equal ts sort before
    * left rows (<= semantics); `tsCol` must be unique per (key, side) for
    * deterministic results.
    *
    * @param right     (key, ts, payload) — payload columns to carry over
    * @param payloadCols names of right columns to expose (prefixed r_)
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
      tsCol: String, payloadCols: Seq[String]): DataFrame = {
    val leftPayload = left.columns.filterNot(c => c == keyCol || c == tsCol)
    val l = left.select(col(keyCol), col(tsCol), lit(0).as("is_right"),
      struct(leftPayload.map(col).toIndexedSeq: _*).as("l_payload"),
      lit(null).cast(
        right.select(struct(payloadCols.map(col): _*)).schema.head.dataType).as("r_payload"))
    val r = right.select(col(keyCol), col(tsCol), lit(1).as("is_right"),
      lit(null).cast(l.schema("l_payload").dataType).as("l_payload"),
      struct(payloadCols.map(col).toIndexedSeq: _*).as("r_payload"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col("is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("asof", last(col("r_payload"), ignoreNulls = true).over(w))
      .filter(col("is_right") === 0)
      .select(
        Seq(col(keyCol), col(tsCol)) ++
        leftPayload.map(c => col(s"l_payload.$c").as(c)) ++
        payloadCols.map(c => col(s"asof.$c").as(s"r_$c")): _*)
  }

  /** Range join: pairs of rows whose timestamps lie within `maxGapUs`,
    * co-grouped by `keyCol`. A naive inequality join is a nested-loop —
    * quadratic and unshuffleable; instead each row maps to a gap-sized
    * time bucket and the right side probes its own and both neighbor
    * buckets, turning the range predicate into an equi-join plus a cheap
    * residual filter. Scales as an ordinary hash join at 100 TB. */
  def rangeJoinBucketed(events: DataFrame, keyCol: String, maxGapUs: Long): DataFrame = {
    val withBucket = events.withColumn("bucket", expr(s"ts_us div $maxGapUs"))
    val probes = withBucket.withColumn("probe",
      explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1)))
    val l = withBucket.as("l")
    val r = probes.as("r")
    l.join(r,
        col(s"l.$keyCol") === col(s"r.$keyCol") &&
        col("l.bucket") === col("r.probe") &&
        col("l.event_id") < col("r.event_id") &&
        abs(col("l.ts_us") - col("r.ts_us")) <= maxGapUs)
      .select(col(s"l.$keyCol").as(keyCol),
        col("l.event_id").as("id_a"), col("r.event_id").as("id_b"),
        (col("r.ts_us") - col("l.ts_us")).as("gap_us"))
  }

  /** Ordered funnel: per user, the earliest time each stage is reached,
    * where stage i+1 counts only at-or-after stage i's reach time (a
    * purchase BEFORE the first click does not complete a click→purchase
    * funnel). Output: one row per user who reached stage 1, with columns
    * `t1..tN` (epoch-µs reach times; `t(i+1)` null once a stage is
    * missed — nulls propagate because `ts >= null` is never true).
    *
    * Shape: stage counts are tiny relative to the event log (each step
    * filters to ONE event type, pushed to the scan), and every shuffle in
    * the cascade is on the user key. Step 1's groupBy hash-partitions the
    * reached set by user; each later join re-uses that partitioning for
    * the reached side (exchange reuse), so each stage adds one shuffle of
    * its own filtered slice — no self-join of the full log, no window
    * over all events. At 100 TB this is k filtered scans (or one scan +
    * `in` filter if the source lacks per-predicate pruning) and k
    * user-keyed shuffles of dimension-sized data. */
  def funnelReach(events: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val first = events.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    stages.zipWithIndex.drop(1).foldLeft(first) { case (reached, (stage, i)) =>
      val stageEvents = events.filter(col(typeCol) === stage)
        .select(col(userCol), col(tsCol).as("_ts"))
      val keep = Seq(userCol) ++ (1 to i).map(j => s"t$j")
      reached.join(stageEvents, Seq(userCol), "left")
        .groupBy(keep.map(col): _*)
        .agg(min(when(col("_ts") >= col(s"t$i"), col("_ts"))).as(s"t${i + 1}"))
    }
  }

  /** Z-score outlier flagging per key: events whose value deviates from
    * their key's mean by more than `z` standard deviations. Works on
    * integer cents (`centsCol`) so the sums feeding mean/σ are EXACT
    * longs — a raw double sum's value depends on reduction order, which
    * would make the flag nondeterministic across plans AND engines; from
    * exact integer sums every downstream double op is correctly-rounded
    * IEEE and bit-identical everywhere. σ uses the one-pass
    * E[X²]−E[X]² form (fine here: cents are ≤ ~2^16, so the squared
    * sums stay exact in long far beyond any per-key cardinality this
    * contract meets).
    *
    * Shape: one groupBy on the key (map-side combined, key-cardinality
    * rows out), stats broadcast back over the log — the log itself never
    * shuffles. */
  def zscoreFlags(events: DataFrame, keyCol: String, centsCol: Column,
      z: Double): DataFrame = {
    val e = events.withColumn("v_c", centsCol)
    val stats = e.groupBy(col(keyCol)).agg(
        count(lit(1)).as("n"), sum(col("v_c")).as("s"),
        sum(col("v_c") * col("v_c")).as("s2"))
      .withColumn("mean_c", col("s").cast("double") / col("n"))
      .withColumn("std_c",
        sqrt(col("s2").cast("double") / col("n") - col("mean_c") * col("mean_c")))
      .select(col(keyCol), col("mean_c"), col("std_c"))
    e.join(broadcast(stats), Seq(keyCol))
      .withColumn("is_anom", abs(col("v_c") - col("mean_c")) > lit(z) * col("std_c"))
  }

  /** Cohort retention matrix: users bucketed by the day of their FIRST
    * event; for each (cohort_day, day_offset) the number of cohort users
    * active `day_offset` days after joining. Days are integer
    * `ts_us div dayUs` — exact, engine-portable.
    *
    * Shape: `distinct` collapses the log to (user, active-day) — one
    * shuffle on the pair, map-side combined; the cohort min re-uses the
    * user partitioning, as does the join back; the final groupBy shuffles
    * only dimension-sized rows. No window over the raw log. */
  def retentionMatrix(events: DataFrame, userCol: String, tsCol: String,
      dayUs: Long = 86400000000L): DataFrame = {
    // exact integer day: subtract-modulus then divide (same reasoning as
    // [[tumblingWindowStart]] — a bare `/` on longs is double division,
    // and truncating k - ε-sized quotients can land a day off)
    val days = events
      .select(col(userCol),
        ((col(tsCol) - pmod(col(tsCol), lit(dayUs))) / lit(dayUs)).cast("long").as("_day"))
      .distinct()
    val cohorts = days.groupBy(col(userCol)).agg(min(col("_day")).as("cohort_day"))
    days.join(cohorts, Seq(userCol))
      .groupBy(col("cohort_day"), (col("_day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }
}
