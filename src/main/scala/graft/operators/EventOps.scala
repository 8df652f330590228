package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.Pins

/** Event-table operators: time bucketing, JSON extraction, batch
  * sessionization (gaps-and-islands). The reference has no streaming or
  * time semantics at all (SURVEY.md §1.3 "no streaming"); these are
  * north-star scope. The streaming variants live in graft.streaming.
  */
object EventOps {

  /** Tumbling-hour counts and value sums per event type. One shuffle on the
    * (hour, type) key with map-side partial agg.
    */
  def hourlyRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(unix_seconds(date_trunc("hour", col("ts"))).as("hour_epoch"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))

  /** JSON property extraction (`props` is a JSON string column): pulls the
    * numeric field `k` and aggregates per event type. `get_json_object` is
    * codegen'd — no UDF.
    */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(sum("k").as("sum_k"), count(lit(1)).as("n"))

  /** Full JSON parse via `from_json` with an explicit schema (vs
    * [[jsonExtract]]'s path extraction): props becomes a typed struct once,
    * then every field is a normal pruned column. Per-(type, flag) rollup of
    * the parsed fields.
    */
  def jsonStruct(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    Tables.events(spark, dir)
      .select(col("event_type"), from_json(col("props"), schema).as("p"))
      .groupBy(col("event_type"), (col("p.k") % 2 === 0).as("k_even"))
      .agg(count(lit(1)).as("n"), sum(col("p.k")).as("sum_k"))
  }

  /** Z-score anomalies: events whose value deviates ≥ `zMin` sample
    * standard deviations from their type's mean. Two-pass shape: tiny
    * per-type stats broadcast back onto the stream — no window over the
    * full table.
    */
  def anomalies(spark: SparkSession, dir: String, zMin: Double = 3.0): DataFrame = {
    val ev = Tables.events(spark, dir)
    val stats = ev.groupBy(col("event_type").as("t"))
      .agg(avg("value").as("mu"), stddev_samp(col("value")).as("sigma"))
    ev.join(broadcast(stats), col("event_type") === col("t"))
      // zero-variance types have no anomalies by definition — and the
      // explicit guard keeps engines aligned where x/0 semantics differ
      // (Spark yields NULL, IEEE engines ±Infinity which would PASS the
      // z filter for a constant-valued type whose mean differs by ulps)
      .where(col("sigma") > 0)
      .select(col("event_id"), col("event_type"),
        round((col("value") - col("mu")) / col("sigma"), 4).as("z"))
      .where(abs(col("z")) >= zMin)
  }

  /** Pivot: per-user value sums spread across event-type columns. The
    * value list is pinned so the plan needs no discovery pass (and column
    * order is deterministic).
    */
  def pivotByType(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum("value"), 2))

  /** As-of join: attach to each purchase the most recent prior-or-equal
    * click of the same user. Implemented as a single-shuffle union +
    * last-non-null window carry-forward — both streams partition once on
    * user_id, no per-row range probe, no second shuffle. Clicks are first
    * deduplicated per (user, ts) (keep max event_id) so tie-handling is
    * deterministic and engine-portable.
    */
  def asofClickBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max("event_id").as("click_id"))
      .select(col("user_id"), col("ts"), lit(1).as("is_click"),
        lit(null).cast("long").as("event_id"), col("click_id"),
        unix_micros(col("ts")).as("click_us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(0).as("is_click"),
        col("event_id"), lit(null).cast("long").as("click_id"),
        lit(null).cast("long").as("click_us"))
    // at equal ts the click sorts first, so `<=` as-of semantics hold
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("is_click").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("asof_click_id", last("click_id", ignoreNulls = true).over(w))
      .withColumn("asof_click_us", last("click_us", ignoreNulls = true).over(w))
      .where(col("is_click") === 0)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"),
        col("asof_click_id"), col("asof_click_us"))
  }

  /** Range join: per signup, how many follow-up events the same user
    * produced within the next `windowMinutes`. Equi-key (user_id) +
    * range predicate, so Catalyst plans a hash/sort-merge join with the
    * range as a residual filter — not a nested-loop cross product. At
    * 100 TB bucket both sides by user_id to skip the shuffle entirely.
    */
  def rangeFollowups(spark: SparkSession, dir: String, windowMinutes: Int = 60): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signups = ev.where(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("su"),
        unix_micros(col("ts")).as("s_us"))
    val others = ev.where(col("event_type") =!= "signup")
      .select(col("user_id"), unix_micros(col("ts")).as("e_us"), col("value"))
    val winUs = windowMinutes.toLong * 60L * 1000000L
    signups.join(others,
        col("su") === col("user_id") &&
        col("e_us") > col("s_us") && col("e_us") <= col("s_us") + winUs, "left")
      .groupBy("signup_id")
      .agg(count(col("user_id")).as("n_follow"),
        round(coalesce(sum("value"), lit(0.0)), 2).as("sum_value"))
  }

  /** Per-user consecutive-event value deltas (lag window). One shuffle on
    * user_id, shared with any other same-partitioning window.
    */
  def lagDeltas(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("prev_value", lag("value", 1).over(w))
      .where(col("prev_value").isNotNull)
      .select(col("event_id"), col("user_id"),
        round(col("value") - col("prev_value"), 4).as("delta"))
  }

  /** Exponentially-weighted moving average of `value` per user over the
    * trailing `horizon` events (decay α = 1/2): `ewma_i = Σ_j 2⁻ʲ·x_{i−j}
    * / Σ_j 2⁻ʲ` over the available lags j ∈ [0, horizon). The truncated-
    * horizon form is deliberate: the infinite recursion s_i = αx + (1−α)s
    * is inherently sequential, while the truncated window is `horizon`
    * codegen'd `lag` columns in ONE window pass — and with α = 1/2 every
    * weight 2⁻ʲ is an exact power of two, so each product is exact double
    * scaling and the fixed left-to-right sum is bit-identical on any
    * engine (no FP-order hazard despite being float math).
    *
    * Scale shape: a single `lag` window partitioned by user — one shuffle
    * on user_id, no global window, per-row state is `horizon` doubles.
    */
  /** Holt linear-trend smoothing of the hourly count series per event
    * type — the level+trend forecaster one step up from [[ewma]] (which
    * tracks level only): `l ← α·y + (1−α)(l+b)`, `b ← β(l−l_prev) +
    * (1−β)·b`, α=3/10, β=2/10, all in integer micro-units with
    * truncating div (Spark `div` and DuckDB `//` BOTH truncate toward
    * zero, negatives included — trend can go negative, and the replay
    * stays bit-exact). Init: level = first observation, trend = 0;
    * smoothing runs over the OBSERVED hourly points in time order.
    * Output per type: point count, final level/trend, and the one-step
    * forecast `level + trend` (micro-units).
    *
    * Scale shape: one map-side-combined (type, hour) count shuffle, then
    * ONE group-bounded fold per type: the series packs into a sorted
    * array (series length = hours observed — bounded by time span, not
    * corpus size: a year is 8 760 points) and folds row-locally. The
    * recurrence is inherently sequential per series; parallelism comes
    * from the series count, which is the right decomposition for
    * metric-store workloads (millions of series × bounded length).
    */
  def holtSmooth(spark: SparkSession, dir: String): DataFrame =
    holtSmoothOf(Tables.events(spark, dir))

  /** [[holtSmooth]] on an explicit events frame (ts, event_type). */
  def holtSmoothOf(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
      .agg(count(lit(1)).as("y"))
    hourly.groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("hb"), col("y")))).as("pts"))
      .select(col("event_type"),
        size(col("pts")).cast("long").as("n_points"),
        expr(
          """aggregate(
            |  slice(pts, 2, size(pts) - 1),
            |  named_struct('l', element_at(pts, 1).y * 1000000L, 'b', 0L),
            |  (acc, p) -> named_struct(
            |    'l', (3L * p.y * 1000000L + 7L * (acc.l + acc.b)) div 10L,
            |    'b', (2L * (((3L * p.y * 1000000L + 7L * (acc.l + acc.b)) div 10L)
            |              - acc.l) + 8L * acc.b) div 10L))""".stripMargin)
          .as("st"))
      .select(col("event_type"), col("n_points"),
        col("st.l").as("level_micro"), col("st.b").as("trend_micro"),
        (col("st.l") + col("st.b")).as("forecast_next_micro"))
  }

  /** Daily-seasonality strength per event type: Pearson correlation of
    * the hourly count series against itself at `lagHours` (default 24) —
    * near 1 means a strong daily cycle, near 0 none. The standard quick
    * screen before fitting any seasonal model (pairs with [[holtSmooth]],
    * which deliberately has no seasonal term). Missing hours in the
    * observed series are genuine zeros for a count metric, so the series
    * is densified over each type's [min, max] hour span before lagging —
    * otherwise gaps would silently misalign the lag.
    *
    * Scale shape: one map-side-combined (type, hour) count shuffle, a
    * per-type `sequence` densification (span-bounded, not corpus-bounded),
    * one lag window partitioned by type, and a 4dp-rounded `corr`
    * aggregate (mergeable moments — the same FP-stability contract the
    * corr_stats query already proves out against the oracle).
    */
  def seasonalityStrength(spark: SparkSession, dir: String,
      lagHours: Int = 24): DataFrame = {
    // persisted because the aggregate feeds BOTH the span min/max and the
    // densify join — unpersisted, the events scan + (type,hour) shuffle
    // would execute twice per run
    val hourly = Pins.persist("eventops.seasonality_hourly", Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hb"))
      .agg(count(lit(1)).as("y")))
    val dense = hourly.groupBy("event_type")
      .agg(min("hb").as("lo"), max("hb").as("hi"))
      .select(col("event_type"), explode(expr(
        "sequence(lo, hi, interval 1 hour)")).as("hb"))
      .join(hourly, Seq("event_type", "hb"), "left")
      .select(col("event_type"), col("hb"), coalesce(col("y"), lit(0L)).as("y"))
    val w = Window.partitionBy("event_type").orderBy("hb")
    dense
      .withColumn("y_lag", lag(col("y"), lagHours).over(w))
      .where(col("y_lag").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        // NaN → NULL: Spark's corr yields NaN on a zero-variance or
        // single-pair series where DuckDB (and SQL convention) yields
        // NULL — normalize so degenerate types replay hash-exact
        round(nanvl(corr(col("y").cast("double"), col("y_lag").cast("double")),
          lit(null).cast("double")), 4).as("autocorr"))
  }

  def ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaOf(Tables.events(spark, dir))

  /** [[ewma]] on an explicit events frame (event_id, ts, user_id, value). */
  def ewmaOf(events: DataFrame, horizon: Int = 8): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val lags = (0 until horizon).map(j => lag(col("value"), j).over(w))
    val num = lags.zipWithIndex
      .map { case (x, j) => coalesce(x, lit(0.0)) * lit(math.pow(0.5, j)) }
      .reduce(_ + _)
    val den = lags.zipWithIndex
      .map { case (x, j) =>
        when(x.isNotNull, lit(math.pow(0.5, j))).otherwise(lit(0.0)) }
      .reduce(_ + _)
    events.select(col("event_id"), col("user_id"),
      round(num / den, 4).as("ewma"))
  }

  /** Ordered conversion funnel with GREEDY first-touch attribution: each
    * stage anchors at the user's FIRST qualifying event (min timestamp
    * within `windowHours` of the previous stage's anchor), and the next
    * stage must convert relative to that anchor. This is the standard
    * first-touch funnel, NOT an any-path existence test — a user whose
    * only converting path runs through a LATER qualifying event is
    * deliberately not counted (the oracle replays the same greedy shape).
    * Each stage is one narrow per-user aggregate (min qualifying
    * timestamp) joined to the previous stage's frame — per-stage shuffle
    * width is one (user, timestamp) row, so the chain scales with user
    * count regardless of event volume, and the event scan prunes to the
    * three relevant types.
    */
  def funnel(spark: SparkSession, dir: String, windowHours: Int = 24): DataFrame = {
    val ev = Tables.events(spark, dir)
      .where(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
    def stage(of: String, after: DataFrame, afterCol: String, out: String): DataFrame =
      ev.where(col("event_type") === of)
        .join(after, Seq("user_id"))
        .where(col("ts") > col(afterCol) &&
          col("ts") <= col(afterCol) + expr(s"INTERVAL $windowHours HOURS"))
        .groupBy("user_id").agg(min("ts").as(out))
    val viewed = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val clicked = stage("click", viewed, "t_view", "t_click")
    val purchased = stage("purchase", clicked, "t_click", "t_purchase")
    viewed.agg(count(lit(1)).as("n")).select(lit(1).as("stage"), lit("view").as("name"), col("n"))
      .unionAll(clicked.agg(count(lit(1)).as("n"))
        .select(lit(2).as("stage"), lit("view>click").as("name"), col("n")))
      .unionAll(purchased.agg(count(lit(1)).as("n"))
        .select(lit(3).as("stage"), lit("view>click>purchase").as("name"), col("n")))
  }

  /** Cohort retention: users bucket by first-active day; each (cohort,
    * day-offset) cell counts users active that many days after joining.
    * Two narrow per-user aggregates plus one (cohort, offset) rollup —
    * event volume collapses to user × active-day rows before any join.
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("d"))
    val firstSeen = ev.groupBy("user_id").agg(min("d").as("cohort"))
    ev.distinct()
      .join(firstSeen, "user_id")
      .groupBy(
        unix_seconds(col("cohort")).as("cohort_epoch"),
        datediff(col("d"), col("cohort")).cast("int").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Batch sessionization: a session breaks after `gapMinutes` of user
    * inactivity. Classic gaps-and-islands: lag → boundary flag → prefix-sum
    * session id. One shuffle on user_id; both windows share the same
    * partitioning so Spark reuses the exchange and sort.
    * Output: per-user session count, max/total events.
    */
  def sessionize(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val gapMicros = gapMinutes.toLong * 60L * 1000000L
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val flagged = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull, lit(0))
          .when(unix_micros(col("ts")) - col("prev_us") > gapMicros, lit(1))
          .otherwise(lit(0)))
      .withColumn("sid", sum("new_s").over(run))
    flagged
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum("n_events").as("n_events_total"))
  }

  /** Calendar gap-fill (time-series resampling): densify per-type daily
    * aggregates onto a complete day grid — missing days appear with n = 0
    * and the value carried forward from the last observed day (the
    * standard "resample + ffill" a metrics pipeline needs before
    * window/trend math).
    *
    * The grid derives from each type's own [min, max] day span via
    * `sequence` + `explode` — rows ∝ span × types, no driver-side
    * calendar. One shuffle for the daily rollup, one broadcast-sized join
    * back; the carry-forward window partitions by type (never global).
    */
  def gapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), round(avg("value"), 4).as("av"))
    val cal = daily.groupBy("event_type")
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
    val carry = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    cal.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), unix_seconds(col("day")).as("day_epoch"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("av"), last(col("av"), ignoreNulls = true).over(carry))
          .as("avg_filled"))
  }

  /** First-order Markov transition matrix over each user's event stream:
    * counts and ppm-probabilities of `from_type → to_type` steps in
    * per-user time order (the clickstream "next-page" model behind
    * navigation analysis and sequence featurization).
    *
    * Determinism: the lead window orders by (ts, event_id) — event_id is
    * unique, so the sequence (and the counts) are a pure function of the
    * data, never of partitioning. Probabilities are truncating integer
    * ppm so the matrix replays exactly on any engine.
    *
    * Scale shape: one shuffle on user_id for the lead window (per-user
    * partitions, bounded by user activity); the transition counts
    * aggregate map-side; per-source totals re-aggregate those partials
    * (≤ types² rows) and broadcast back.
    */
  /** Time-weighted average value per user over an irregular event stream:
    * each reading holds until the next one, so its weight is the gap to
    * the successor (`lead` over the per-user timeline; the last reading
    * has no holding interval and drops out) — the correct mean for
    * unevenly sampled gauges, where the arithmetic mean over-weights
    * bursts.
    *
    * Determinism: the weighted sum runs in EXACT integer space — values
    * scale to micro-units (bigint, so |value| ≤ ~9.2·10¹²), gaps to
    * milliseconds, and each product is decimal(19,0) × decimal(18,0),
    * whose result type is EXACTLY decimal(38,0) (19+18+1 = 38 — no
    * precision cap, so no silent null/overflow under non-ANSI mode; a
    * bigint product would overflow at ~year-long gaps). Per-user sums
    * are therefore order-independent and the only FP is the single final
    * division both engines perform on the same exact integers. Gaps
    * beyond 10¹⁸ ms (~3·10⁷ years) would overflow the operand cast —
    * unreachable for any epoch timestamp.
    *
    * Scale shape: one shuffle on user_id shared by the window and the
    * aggregate; map-side combine on the sum pass.
    */
  def timeWeightedAvg(spark: SparkSession, dir: String): DataFrame =
    timeWeightedAvgOf(Tables.events(spark, dir))

  /** [[timeWeightedAvg]] over a caller-supplied event frame
    * (user_id, ts, event_id, value).
    */
  def timeWeightedAvgOf(events: DataFrame): DataFrame = {
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("cast(round(value * 1000000) as bigint)").as("vi"))
      .withColumn("dt_ms",
        expr("(unix_micros(lead(ts) over (partition by user_id " +
          "order by ts, event_id)) - unix_micros(ts)) div 1000"))
      .where(col("dt_ms").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(col("vi").cast("decimal(19,0)") * col("dt_ms").cast("decimal(18,0)"))
          .as("num"),
        sum("dt_ms").as("den"),
        count(lit(1)).as("n_intervals"))
      .select(col("user_id"),
        round(col("num").cast("double") / (col("den").cast("double") * 1e6), 4)
          .as("twa"),
        col("den").as("total_ms"), col("n_intervals"))
  }

  /** Last-touch attribution: each purchase credits the user's most recent
    * STRICTLY-earlier touch event (click or view); purchases with no
    * preceding touch fall to the `direct` bucket. The `last(..,
    * ignoreNulls) OVER (rows unbounded preceding → 1 preceding)` carry
    * is the standard marketing-attribution shape; swapping `last` for
    * `first` gives first-touch with the identical plan.
    *
    * Determinism: purchase values sum as exact micro-unit integers (one
    * final division), and the carry window orders by (ts, event_id) — a
    * total order, so same-timestamp events resolve identically on every
    * engine.
    *
    * Scale shape: one shuffle on user_id shared by the window and the
    * tiny touch-type rollup; the event_type filter prunes before the
    * exchange.
    */
  def attribution(spark: SparkSession, dir: String): DataFrame =
    attributionOf(Tables.events(spark, dir))

  /** [[attribution]] over a caller-supplied event frame. */
  def attributionOf(events: DataFrame): DataFrame =
    attributionCredits(events)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("vi").cast("double") / 1e6, 4).as("attributed_value"))

  /** Linear (multi-touch) attribution — the even-split complement of the
    * last-touch model: each purchase's value divides equally over EVERY
    * preceding click/view in the user's history; a purchase with no prior
    * touch credits `direct`. Comparing this rollup against
    * [[attribution]]'s answers the budget question last-touch cannot:
    * which channel participates in journeys vs which merely closes them.
    *
    * Integer discipline: the per-touch share is `vi div n` (truncating
    * micro-units) and the division remainder credits the MOST RECENT
    * touch (recency tie-break), so every purchase's credits sum to
    * exactly `vi` and any engine replays the split bit for bit —
    * values are non-negative, so truncating and flooring division
    * agree across engines.
    *
    * Scale shape: the same single user_id shuffle as [[attributionOf]]
    * (three windows over one ordered pass), a 3-way credit explode on
    * purchase rows only, and a touch-type-bounded rollup.
    *
    * Known asymmetry vs [[attribution]]: the `credit > 0` filter drops
    * zero-value purchases entirely, so a `vi = 0, n = 0` purchase counts
    * under `direct` in last-touch but not here — `n_purchases` between
    * the two rollups differs by exactly those rows. Intentional: a
    * zero-credit row carries no attributable value, and the DuckDB oracle
    * applies the same filter.
    */
  def linearAttribution(spark: SparkSession, dir: String): DataFrame =
    linearAttributionOf(Tables.events(spark, dir))

  /** [[linearAttribution]] over a caller-supplied event frame. */
  def linearAttributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val p = events
      .where(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("cast(round(value * 1000000) as bigint)").as("vi"))
      .withColumn("n_click", coalesce(
        sum(when(col("event_type") === "click", 1L)).over(w), lit(0L)))
      .withColumn("n_view", coalesce(
        sum(when(col("event_type") === "view", 1L)).over(w), lit(0L)))
      .withColumn("last_touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .withColumn("n", col("n_click") + col("n_view"))
      .withColumn("share", when(col("n") > 0, expr("vi div n")).otherwise(lit(0L)))
      .withColumn("rem", col("vi") - col("n") * col("share"))
    p.select(explode(array(
        struct(lit("click").as("t"),
          (col("n_click") * col("share")
            + when(col("last_touch") === "click", col("rem")).otherwise(lit(0L))).as("c")),
        struct(lit("view").as("t"),
          (col("n_view") * col("share")
            + when(col("last_touch") === "view", col("rem")).otherwise(lit(0L))).as("c")),
        struct(lit("direct").as("t"),
          when(col("n") === 0, col("vi")).otherwise(lit(0L)).as("c")))).as("e"))
      .select(col("e.t").as("touch_type"), col("e.c").as("credit"))
      .where(col("credit") > 0)
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_purchases"),
        round(sum("credit").cast("double") / 1e6, 4).as("attributed_value"))
  }

  /** The per-purchase credit rows under [[attributionOf]]'s rollup: each
    * purchase with the touch type it credits and its exact micro-unit
    * value. Shared with the streaming twin
    * ([[graft.streaming.EventStreams.attributionStream]]) whose per-user
    * carry state must replay this window's ignoreNulls-last semantics
    * row for row (parity pinned in StreamingSpec).
    */
  private[graft] def attributionCredits(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .where(col("event_type").isin("click", "view", "purchase"))
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("cast(round(value * 1000000) as bigint)").as("vi"))
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        coalesce(col("touch"), lit("direct")).as("touch_type"), col("vi"))
  }

  /** Top event-type trigrams across per-user timelines — the path-mining
    * rollup behind funnel discovery (which 3-step behavior sequences
    * actually occur, before committing to a [[funnel]] definition).
    * Trigrams form per user with two `lead`s over the (ts, event_id)
    * total order; the global count is one map-side-combined aggregate and
    * the top-k is a sort-limit (TakeOrderedAndProject — never a global
    * window). Ties break on the trigram string for a deterministic cut.
    */
  def eventTrigrams(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .select(concat_ws(">", col("event_type"),
        lead(col("event_type"), 1).over(w),
        lead(col("event_type"), 2).over(w)).as("trigram"),
        lead(col("event_type"), 2).over(w).as("_last"))
      .where(col("_last").isNotNull)
      .groupBy("trigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("trigram"))
      .limit(k)
  }

  /** Time-to-conversion funnel summary: per signed-up user, the latency
    * from FIRST signup to the first purchase at-or-after it; one output
    * row with the conversion rate and latency quantiles. Quantiles are
    * ADAPTIVE: exact `percentile` while the signup population fits
    * `maxExactRows` (one group buffers every latency), the mergeable
    * `approx_percentile` sketch above it.
    *
    * Scale shape: two filtered min-aggregates on user_id, one join, one
    * global rollup; latencies are exact integer seconds so every stage
    * up to the final interpolation replays portably.
    */
  def timeToConvert(spark: SparkSession, dir: String,
      maxExactRows: Long = 50000000L): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("s_us"))
    val purchase = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("p_us"))
    // first QUALIFYING purchase via inner join, then left-joined back so
    // users whose only purchases precede signup still count as signups
    val firstP = signup.join(purchase, Seq("user_id"))
      .where(col("p_us") >= col("s_us"))
      .groupBy("user_id").agg(min("p_us").as("p_us"))
    val conv = signup.join(firstP, Seq("user_id"), "left")
      .select(col("user_id"),
        when(col("p_us").isNotNull,
          expr("(p_us - s_us) div 1000000")).as("delta_s"))
    // exact percentile buffers every latency in one task (single group):
    // size-probe and fall to the mergeable approx_percentile sketch past
    // the cap — the madOutliers adaptive guard
    val exact = signup.limit(
      math.min(maxExactRows + 1, Int.MaxValue.toLong).toInt).count() <= maxExactRows
    def q(c: org.apache.spark.sql.Column, p: Double) =
      if (exact) percentile(c, lit(p)) else percentile_approx(c, lit(p), lit(10000))
    conv.agg(
      count(lit(1)).as("n_signups"),
      count(col("delta_s")).as("n_converted"),
      round(count(col("delta_s")).cast("double") / count(lit(1)), 4).as("cvr"),
      round(q(col("delta_s"), 0.5), 1).as("p50_s"),
      round(q(col("delta_s"), 0.9), 1).as("p90_s"))
  }

  /** Cross-group quantile normalization: map each event's `value` to the
    * POOLED distribution's value at the same within-group percentile.
    * This is the calibration step a curation pipeline runs when scores
    * from heterogeneous scorers (one per event_type here; per quality
    * classifier / per source in a corpus) must be comparable before a
    * single global threshold or mixing policy is applied: after the
    * transform, every group's scores share the pooled marginal
    * distribution, so "top 10% by value" means the same thing in every
    * group.
    *
    * pr = (min-rank − 1)/(n_group − 1) within the event's group (ties
    * share the min rank — deterministic and engine-portable); the
    * normalized value is the pooled sorted value at position
    * ⌊pr·(N−1)⌋+1 (integer-indexed, no interpolation — every output
    * value is a value that actually occurs, and the position arithmetic
    * replays bit-identically in any IEEE engine).
    *
    * Scale shape — NO whole-table window anywhere:
    *  - within-group rank: range-partition on (group, value) (equal keys
    *    land in one partition, so min-rank ties are partition-local),
    *    per-partition-per-group counts → exclusive prefix-sum over the
    *    (#partitions × #groups)-row side table, broadcast back, local
    *    rank + offset — [[Relational.globalIndex]]'s two-pass scheme
    *    generalized to grouped ranking;
    *  - pooled positions: the same scheme on value alone;
    *  - the final lookup is a uniform equi-join on the target position.
    * Both range-partitioned frames persist behind a count barrier (the
    * offset pass must see the SAME sampled range boundaries) and queue
    * release hooks with [[graft.plans.ReleaseRegistry]].
    */
  def quantileNormalize(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val ev = events.select(col("event_id"), col("event_type"), col("value"))

    val (ranged, _) = Pins.materialize("eventops.quantile_norm_grouped",
      ev.repartitionByRange(par, col("event_type"), col("value"))
        .withColumn("pid", spark_partition_id()))
    val offs = ranged.groupBy("pid", "event_type").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(Window.partitionBy("event_type").orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "event_type", "off")
    val nPerType = ev.groupBy("event_type").agg(count(lit(1)).as("n_type"))
    val localRank = Window.partitionBy("pid", "event_type").orderBy("value")
    val ranked = ranged.join(broadcast(offs), Seq("pid", "event_type"))
      .withColumn("rk", rank().over(localRank).cast("long") + col("off"))
      .join(nPerType, Seq("event_type"))
      .withColumn("pr", when(col("n_type") === 1, lit(0.0))
        .otherwise((col("rk") - 1).cast("double") / (col("n_type") - 1).cast("double")))

    val (pooledRanged, _) = Pins.materialize("eventops.quantile_norm_pooled",
      ev.select(col("value"))
        .repartitionByRange(par, col("value"))
        .withColumn("pid", spark_partition_id()))
    val poffs = pooledRanged.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "off")
    val pooled = pooledRanged.join(broadcast(poffs), Seq("pid"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("pid").orderBy("value")).cast("long") + col("off"))
      .select(col("value").as("value_norm"), col("rn"))
    val nAll = ev.agg(count(lit(1)).as("n_all"))

    ranked.crossJoin(broadcast(nAll))
      .withColumn("target", floor(col("pr") * (col("n_all") - 1).cast("double")) + 1)
      .join(pooled, col("target") === col("rn"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("pr"), 6).as("pr"), col("value_norm"))
  }

  /** RFM segmentation: every user scored 1-5 on Recency (last activity),
    * Frequency (event count) and Monetary (exact cent-summed value) by
    * global quintile — the standard behavioral-segmentation table a
    * growth/curation pipeline joins everything else against. Quintile =
    * `(5·(rank−1)) div N + 1` over the (metric, user_id)-ordered global
    * row number: pure integer arithmetic on a deterministic total order,
    * so any engine replays the exact scores.
    *
    * Scale shape: one corpus aggregate to the per-user table, then three
    * global rankings via the range-partition + per-partition-prefix-sum
    * scheme ([[Relational.globalIndex]]'s) — the only windows run over
    * partition-local rows and the #partitions-row offset table; nothing
    * ever moves to one partition. Each ranking is one range shuffle of
    * the (user, metric) projection; the final assembly is three
    * equi-joins on user_id that AQE resolves to broadcasts when the
    * user table fits. Persisted frames register release hooks.
    */
  def userRfm(spark: SparkSession, dir: String): DataFrame = {
    val par = spark.sparkContext.defaultParallelism
    // barrier + the quintile divisor
    val (perUser, nUsers) = Pins.materialize("eventops.user_rfm", Tables.events(spark, dir)
      .groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("n_events"),
        sum(expr("cast(round(value * 100) as bigint)")).as("value_cents")))

    def quintile(metric: org.apache.spark.sql.Column, name: String): DataFrame = {
      val (ranged, _) = Pins.materialize(s"eventops.user_rfm_$name",
        perUser.select(col("user_id"), metric.as("m"))
          .repartitionByRange(par, col("m"), col("user_id"))
          .withColumn("pid", spark_partition_id()))
      val offs = ranged.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(
          sum("cnt").over(Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "off")
      ranged.join(broadcast(offs), Seq("pid"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("pid").orderBy(col("m"), col("user_id")))
          .cast("long") + col("off"))
        .select(col("user_id"),
          expr(s"cast((5 * (rn - 1)) div $nUsers + 1 as int)").as(name))
    }
    perUser
      .join(quintile(col("last_ts"), "r_score"), Seq("user_id"))
      .join(quintile(col("n_events"), "f_score"), Seq("user_id"))
      .join(quintile(col("value_cents"), "m_score"), Seq("user_id"))
      .select(col("user_id"), col("n_events"), col("value_cents"),
        col("r_score"), col("f_score"), col("m_score"))
  }

  def pageTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val steps = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .where(col("next_type").isNotNull)
    val cnt = steps
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = cnt.groupBy("from_type").agg(sum("n").as("tot"))
    cnt.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000L) div tot").as("p_ppm"))
  }
}
