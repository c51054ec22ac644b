package graft.operators

import graft.{OSQL, U}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.8 — time-series operators (the reference's home turf).
  *
  * All are single-shuffle shapes: tumbling/sliding windows are plain hash
  * aggregations on a derived bucket key (no sort); sessionize/diff/resample
  * are one shuffle+sort per user_id. Value math runs in exact cents
  * (see [[graft.U]]); bucket arithmetic in exact integer microseconds.
  */
object TimeSeries {

  /** Cap (rows) under which a per-user anchor frame (first-click / cohort /
    * funnel-stage timestamps, one row per user) may broadcast into the event
    * stream. |users| is data-derived — at the 100 TB target it is 10⁸–10⁹
    * rows, far past any broadcast budget — so every anchor join dispatches
    * through [[anchorGate]]: broadcast below the cap (map-side, no event
    * shuffle), plain shuffle-hash equi-join above it. Same pattern and
    * default as [[Graphs.PrBroadcastNodeCap]]; 1M narrow (user, ts) rows is
    * ~16 MB serialized, comfortably inside Spark's 8 GB broadcast hard cap
    * and the default driver memory budget. */
  private[graft] val UserAnchorCap = U.BroadcastRowCap

  /** Gate a per-user anchor frame: persist it (every caller consumes it at
    * least twice — the gating count plus >=1 join), count it once, and
    * return the persisted frame plus a join-side wrapper. Below `cap`
    * the wrapper is an explicit `broadcast` (derived-frame size estimates
    * otherwise push the planner to sort-merge over the full event stream);
    * above it, `hint("shuffle_hash")` — the anchor side exchanges on
    * user_id, the event side hash-joins without a sort, and AQE cannot
    * re-broadcast what the gate declined. Both paths are the same equi-join
    * on user_id, so results are identical by construction (StressSpec
    * asserts cap=0 parity). In production the count on the persisted frame
    * costs one narrow agg job; when the anchor is a raw table scan the
    * decision could come from parquet footer row counts instead — see
    * SCALE.md "posture gates". Delegates to the generic [[U.sizeGate]]. */
  private[graft] def anchorGate(f: DataFrame,
      cap: Long): (DataFrame, DataFrame => DataFrame) = U.sizeGate(f, cap)

  /** 1-hour tumbling window aggregation via Spark's window() — start/end
    * flattened out of the struct for the oracle compare. */
  private def tsTumbling(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")

  /** 1-hour window sliding every 15 minutes — each event lands in 4 windows. */
  private def tsSliding(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("n"), col("sum_value"))
      .orderBy("wstart")

  /** The gap-sessionization kernel behind ts_sessionize, ts_top_sessions,
    * ts_uptime, ts_max_concurrency, ts_pot_exceedance and
    * [[graft.api.GraftApi.sessionize]]: one shuffle+sort per `key`
    * ordered by (`ts`, `tiebreak`…), a lag flags each row whose gap to the
    * previous one exceeds `gapUs` (or that has none), and the running sum
    * of the flags appends `session_id` (1-based per key). Rows tying on
    * (key, ts) are ordered by `tiebreak`; with none the tie order is
    * unspecified. */
  private[graft] def sessionizeOn(df: DataFrame, key: String, ts: String,
      tiebreak: Seq[String], gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts) +: tiebreak.map(col): _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev_us", lag(unix_micros(col(ts)), 1).over(w))
      .withColumn("__new",
        when(col("__prev_us").isNull ||
          unix_micros(col(ts)) - col("__prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(run))
      .drop("__prev_us", "__new")
  }

  /** [[sessionizeOn]] over the events at the fixture's 30-minute gap,
    * event_id the tiebreak. */
  private def userSessions(s: SparkSession, d: String): DataFrame =
    sessionizeOn(U.events(s, d), "user_id", "ts", Seq("event_id"),
      1800000000L)

  /** 30-minute-gap sessionization through [[sessionizeOn]], then one
    * aggregate per (user, session). */
  private def tsSessionize(s: SparkSession, d: String): DataFrame =
    userSessions(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), U.dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "session_id")

  /** Resample each user's series to a daily grid (sequence+explode — no
    * driver-side loop) and forward-fill the last observed value. */
  private def tsResampleFill(s: SparkSession, d: String): DataFrame = {
    val ev = U.events(s, d)
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("DAY", min(col("ts"))).as("d0"),
        date_trunc("DAY", max(col("ts"))).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    // deterministic daily closing value: the last (ts, event_id) of the day
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("day", date_trunc("DAY", col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("close_value"))
    val wFill = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("filled_value", last(col("close_value"), ignoreNulls = true).over(wFill))
      .withColumn("is_observed", col("close_value").isNotNull)
      .select(col("user_id"), col("day"), col("filled_value"), col("is_observed"))
      .orderBy("user_id", "day")
  }

  /** Per-key delta and rate-of-change between consecutive points, in exact
    * cents / integer microseconds. */
  private def tsDiffRate(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val vc = U.cents(col("value"))
    U.events(s, d)
      .withColumn("dv_cents", vc - lag(vc, 1).over(w))
      .withColumn("dt_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        (col("dv_cents").cast(DoubleType) / lit(100.0)).as("delta"),
        (col("dt_us").cast(DoubleType) / lit(1000000.0)).as("dt_sec"),
        ((col("dv_cents").cast(DoubleType) / lit(100.0)) /
          (col("dt_us").cast(DoubleType) / lit(1000000.0))).as("rate"))
      .orderBy("event_id")
  }

  /** Rolling Bollinger-band breakout flags per user: an 8-row trailing
    * window's mean and variance, with the |z| > 2 breakout test done as an
    * exact INTEGER cross-multiplication — (n−1)·(n·x−Σx)² > 4·n·(n·Σx²−(Σx)²)
    * is z² > 4 with every operand an exact cents sum, so there is no sqrt,
    * no float division, and no engine drift anywhere in the predicate
    * (value cents ≤ ~5e4 ⇒ every product ≤ ~5e12, comfortably Long). The
    * window order is total (ts, then event_id), the [[tsRollingMedian]]
    * determinism discipline. One window pass per user partition — linear. */
  private def tsBollinger(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-7, Window.currentRow)
    U.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        U.cents(col("value")).as("vc"))
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("sum_c", sum(col("vc")).over(w))
      .withColumn("sumsq_c", sum(col("vc") * col("vc")).over(w))
      .select(col("event_id"), col("user_id"), col("n_win"),
        expr("sum_c DIV n_win").as("mean_cents"),
        ((col("n_win") - 1) *
          (col("n_win") * col("vc") - col("sum_c")) *
          (col("n_win") * col("vc") - col("sum_c")) >
          lit(4L) * col("n_win") *
            (col("n_win") * col("sumsq_c") - col("sum_c") * col("sum_c")))
          .as("is_break"))
      .orderBy("event_id")
  }

  /** Per-event-type z-score normalization via exact power sums, joined back
    * to every event (broadcast: the stats side is tiny). */
  private def tsZscore(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value")) // value cents <= ~2e4: squares fit Long
    val stats = U.events(s, d).groupBy(col("event_type").as("et")).agg(
      count(lit(1)).cast(DoubleType).as("nd"),
      sum(vc).cast(DoubleType).as("sx"),
      sum(vc * vc).cast(DoubleType).as("sxx"))
    val mean = col("sx") / (lit(100.0) * col("nd"))
    val variance = U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))
    val enriched = stats.select(col("et"), mean.as("mean_v"), sqrt(variance).as("std_v"))
    // nullif guard: a constant-valued group has std_v = 0; double 0-division
    // behavior differs between engines, so both sides yield NULL identically
    val sd = nullif(col("std_v"), lit(0.0))
    U.events(s, d)
      .join(broadcast(enriched), col("event_type") === col("et"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((col("value") - col("mean_v")) / sd).as("z"),
        (abs((col("value") - col("mean_v")) / sd) > lit(3.0)).as("is_anomaly"))
      .orderBy("event_id")
  }

  /** Hour-of-day seasonal anomaly screen (the "is 3am traffic weird FOR
    * 3am" question [[tsZscore]]'s global per-type stats can't answer):
    * each (event_type, hour-of-day) cell gets mean/σ from exact cents
    * power sums (the 24×|types| profile broadcasts), then the cell's own
    * events are counted against the |v−µ| > 2σ predicate. Two linear
    * passes; constant-valued cells σ-null out identically in both engines
    * (the [[tsZscore]] nullif discipline), and the outlier predicate's
    * null falls to the CASE ELSE in both. */
  private def tsSeasonalOutlier(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val ev = U.events(s, d).select(col("event_type"),
      expr("(unix_micros(ts) DIV 3600000000) % 24").as("hod"),
      vc.as("vc"), col("value"))
    val stats = ev.groupBy(col("event_type").as("et"), col("hod").as("sh"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("vc")).cast(DoubleType).as("sx"),
        sum(col("vc") * col("vc")).cast(DoubleType).as("sxx"))
    val prof = stats.select(col("et"), col("sh"),
      (col("sx") / (lit(100.0) * col("nd"))).as("cell_mean"),
      nullif(sqrt(U.covPowerSums(col("sxx"), col("sx"), col("sx"),
        col("nd"))), lit(0.0)).as("sd"))
    ev.join(broadcast(prof),
        col("event_type") === col("et") && col("hod") === col("sh"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"), max(col("cell_mean")).as("cell_mean"),
        sum(when(abs((col("value") - col("cell_mean")) / col("sd")) > 2.0,
          1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type", "hod")
  }

  /** As-of enrichment applied to the time-series domain (SURVEY §2.8's
    * `ts_asof_enrich`): every event carries the user's latest prior-or-equal
    * 'signup' value — the [[Joins.asOfOn]] kernel join_asof runs on. */
  private def tsAsofEnrich(s: SparkSession, d: String): DataFrame = {
    val ev = U.events(s, d)
    Joins.asOfOn(ev.select(col("event_id"), col("user_id"), col("ts")),
        ev.filter(col("event_type") === "signup")
          .select(col("user_id"), col("ts"), col("event_id"), col("value")),
        Seq("user_id"), "ts", "ts", Seq("value"), Seq("event_id"),
        Seq("signup" -> false))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("signup.value").as("signup_value"))
      .orderBy("event_id")
  }

  /** OHLC downsampling per (user, hour): open/close via min_by/max_by on
    * ts, high/low plain min/max. RELIES on the fixture invariant that
    * (user_id, ts) is unique (verified at every SF): min_by/arg_min tie
    * behavior is unspecified in both engines, and DuckDB 1.0's arg_min
    * accepts no composite ordering key to break ties with. */
  private def tsOhlc(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(col("user_id"), date_trunc("HOUR", col("ts")).as("bucket"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n"))
      .orderBy("user_id", "bucket")

  /** EWMA (alpha=0.2) per user as a LEFT FOLD over the time-ordered value
    * list, seeded with the first element — exactly DuckDB's list_reduce
    * semantics, so the double chain is bit-identical on both engines. */
  private def tsEwma(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("pts"))
      .select(col("user_id"), size(col("pts")).cast(LongType).as("n"),
        expr("aggregate(slice(transform(pts, p -> p.value), 2, size(pts) - 1), " +
          "element_at(transform(pts, p -> p.value), 1), " +
          "(acc, x) -> 0.2 * x + 0.8 * acc)").as("ewma"))
      .orderBy("user_id")

  /** Median-absolute-deviation outlier scores per event_type, in exact
    * cents (dyadic 0.5 quantiles stay exact through interpolation). */
  private def tsOutlierMad(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val ev = U.events(s, d)
    val med = ev.groupBy(col("event_type").as("et1"))
      .agg(percentile(vc, lit(0.5)).as("med_c"))
    val withMed = ev.join(broadcast(med), col("event_type") === col("et1"))
      .withColumn("dev", abs(vc - col("med_c")))
    val mad = withMed.groupBy(col("event_type").as("et2"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad_c"))
    // nullif guard mirrors the oracle: mad_c = 0 whenever >50% of a group
    // equals its median — both engines then yield NULL, not Inf/NaN
    val madSafe = nullif(col("mad_c"), lit(0.0))
    withMed.join(broadcast(mad), col("event_type") === col("et2"))
      .select(col("event_id"), col("event_type"), col("value"),
        ((vc - col("med_c")) / madSafe).as("mad_score"),
        (abs((vc - col("med_c")) / madSafe) > 3.5).as("is_outlier"))
      .orderBy("event_id")
  }

  /** Gap detection: adjacent same-user events more than 2 hours apart. */
  private def tsGapDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_ts").isNotNull &&
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 7200000000L)
      .select(col("user_id"), col("prev_ts").as("gap_start"), col("ts").as("gap_end"),
        ((unix_micros(col("ts")) - unix_micros(col("prev_ts"))).cast(DoubleType) /
          lit(1000000.0)).as("gap_seconds"))
      .orderBy("user_id", "gap_start")
  }

  /** Conversion funnel (sequence match): each user's FIRST click, then the
    * first purchase within the following 7 days — the classic
    * industry-time-sequence funnel stage. Two hash-aggs + one anchor
    * join back, dispatched through [[anchorGate]] (the per-user anchor
    * frame is |users|-sized — broadcast below [[UserAnchorCap]],
    * shuffle-hash above); no window over the full event stream. */
  private def tsFunnel(s: SparkSession, d: String): DataFrame =
    tsFunnelImpl(s, d, UserAnchorCap)

  private[graft] def tsFunnelImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val ev = U.events(s, d)
    val (anchor, wa) = anchorGate(
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("u")).agg(min(col("ts")).as("t_click")), cap)
    val conv = ev.join(wa(anchor), col("user_id") === col("u"))
      .filter(col("event_type") === "purchase" &&
        col("ts") >= col("t_click") &&
        col("ts") <= col("t_click") + expr("INTERVAL 7 DAYS"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_conv"))
    // conv's users ⊆ anchor's users, so anchor's gate verdict covers it
    anchor.join(wa(conv), col("u") === col("user_id"), "left")
      .select(col("u").as("user_id"), col("t_click"), col("t_conv"),
        col("t_conv").isNotNull.as("converted"))
      .orderBy("user_id")
  }

  /** Cohort retention matrix: users cohorted by first-active day; cell
    * (cohort_day, day_offset) counts users active offset days later. Same
    * gated-anchor shape as the funnel; offsets in exact integer
    * micros-DIV-day arithmetic (identical both engines — engine datediff
    * semantics differ and are avoided). */
  private def tsRetention(s: SparkSession, d: String): DataFrame =
    tsRetentionImpl(s, d, UserAnchorCap)

  private[graft] def tsRetentionImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val ev = U.events(s, d)
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
    val (cohort, wc) = anchorGate(
      ev.groupBy(col("user_id").as("u")).agg(min(col("day")).as("cohort_day")), cap)
    ev.join(wc(cohort), col("user_id") === col("u"))
      .select(col("user_id"), col("cohort_day"),
        expr("(unix_micros(day) - unix_micros(cohort_day)) DIV 86400000000")
          .as("day_offset"))
      .distinct()
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Multi-stage funnel (windowFunnel shape): signup → click → purchase,
    * each stage within 7 days of the previous one, max stage per user.
    * Chained [[anchorGate]]-dispatched anchor joins — each stage frame is
    * |users|-sized, broadcast only below [[UserAnchorCap]]. */
  private def tsFunnelSteps(s: SparkSession, d: String): DataFrame =
    tsFunnelStepsImpl(s, d, UserAnchorCap)

  private[graft] def tsFunnelStepsImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val ev = U.events(s, d)
    def stageAfter(prev: DataFrame, wrap: DataFrame => DataFrame,
        prevTs: String, etype: String, out: String) =
      ev.join(wrap(prev), ev("user_id") === prev("u"))
        .filter(col("event_type") === etype &&
          col("ts") >= col(prevTs) &&
          col("ts") <= col(prevTs) + expr("INTERVAL 7 DAYS"))
        .groupBy(ev("user_id").as("u2")).agg(min(col("ts")).as(out))
    val (s1, w1) = anchorGate(
      ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id").as("u")).agg(min(col("ts")).as("t_signup")), cap)
    val (s2, w2) = anchorGate(
      stageAfter(s1, w1, "t_signup", "click", "t_click")
        .select(col("u2").as("u"), col("t_click")), cap)
    val s3 = stageAfter(s2, w2, "t_click", "purchase", "t_purchase")
      .select(col("u2").as("u3"), col("t_purchase"))
    // each stage's users ⊆ the previous stage's, so s2's gate verdict
    // covers both later frames in the assembly joins
    s1.join(w2(s2.select(col("u").as("u2x"), col("t_click"))),
        col("u") === col("u2x"), "left")
      .join(w2(s3), col("u") === col("u3"), "left")
      .select(col("u").as("user_id"), col("t_signup"), col("t_click"),
        col("t_purchase"),
        (lit(1L) + col("t_click").isNotNull.cast(LongType) +
          col("t_purchase").isNotNull.cast(LongType)).as("max_stage"))
      .orderBy("user_id")
  }

  /** Centered moving-average detrend (seasonal-decompose's trend pass):
    * hourly buckets per event_type, trend = mean over the ±12-bucket ROWS
    * frame in exact cents (long sums; ONE double division at the end),
    * residual = bucket mean - trend. */
  private def tsSeasonal(s: SparkSession, d: String): DataFrame = {
    val hourly = U.events(s, d)
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("bucket"))
      .agg(sum(U.cents(col("value"))).as("sum_c"), count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(-12, 12)
    hourly
      .withColumn("trend",
        (sum(col("sum_c")).over(w).cast(DoubleType) /
          (lit(100.0) * sum(col("n")).over(w).cast(DoubleType))))
      .select(col("event_type"), col("bucket"),
        (col("sum_c").cast(DoubleType) / (lit(100.0) * col("n"))).as("bucket_mean"),
        col("trend"),
        ((col("sum_c").cast(DoubleType) / (lit(100.0) * col("n"))) - col("trend"))
          .as("residual"))
      .orderBy("event_type", "bucket")
  }

  /** Linear interpolation of each user's daily series at unobserved grid
    * points: same sequence+explode grid as [[tsResampleFill]], then the
    * previous/next observed (value, day) via two frames over ONE sort order,
    * interp = pv + (nv−pv)·frac with frac an exact-integer-µs ratio — the
    * identical double-op tree runs in the oracle, so the hash gate holds. */
  private def tsInterpolate(s: SparkSession, d: String): DataFrame = {
    val ev = U.events(s, d)
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("DAY", min(col("ts"))).as("d0"),
        date_trunc("DAY", max(col("ts"))).as("d1"))
      .select(col("user_id"),
        explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("day"))
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = ev.withColumn("day", date_trunc("DAY", col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("obs"))
    val wB = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsDay = when(col("obs").isNotNull, col("day"))
    val nbrs = grid.join(daily, Seq("user_id", "day"), "left_outer")
      .withColumn("pv", last(col("obs"), ignoreNulls = true).over(wB))
      .withColumn("pd", last(obsDay, ignoreNulls = true).over(wB))
      .withColumn("nv", first(col("obs"), ignoreNulls = true).over(wF))
      .withColumn("nx", first(obsDay, ignoreNulls = true).over(wF))
    val frac = (unix_micros(col("day")) - unix_micros(col("pd"))).cast(DoubleType) /
      (unix_micros(col("nx")) - unix_micros(col("pd"))).cast(DoubleType)
    nbrs.select(col("user_id"), col("day"),
      when(col("obs").isNotNull, col("obs"))
        .when(col("pv").isNull, col("nv"))
        .when(col("nv").isNull, col("pv"))
        .otherwise(col("pv") + (col("nv") - col("pv")) * frac).as("interp_value"),
      col("obs").isNotNull.as("is_observed"))
      .orderBy("user_id", "day")
  }

  /** Lag-1 autocorrelation of each user's value series: lag over one
    * shuffle+sort, then exact-cents power sums (products widened to
    * DECIMAL(38,0) so the sum can't wrap at sf100+) through the shared
    * covPowerSums tree — one extra hash-agg, no second sort. */
  private def tsAutocorr(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val dec = DecimalType(38, 0)
    val pts = U.events(s, d)
      .withColumn("xc", U.cents(col("value")))
      .withColumn("yc", lag(col("xc"), 1).over(w))
      .filter(col("yc").isNotNull)
    val ps = pts.groupBy(col("user_id")).agg(
      count(lit(1)).cast(DoubleType).as("nd"),
      sum(col("xc")).cast(DoubleType).as("sx"),
      sum(col("yc")).cast(DoubleType).as("sy"),
      sum(col("xc").cast(dec) * col("xc").cast(dec)).cast(DoubleType).as("sxx"),
      sum(col("yc").cast(dec) * col("yc").cast(dec)).cast(DoubleType).as("syy"),
      sum(col("xc").cast(dec) * col("yc").cast(dec)).cast(DoubleType).as("sxy"))
    val varX = U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))
    val varY = U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd"))
    val cov = U.covPowerSums(col("sxy"), col("sx"), col("sy"), col("nd"))
    ps.select(col("user_id"), col("nd").cast(LongType).as("n_pairs"),
      (cov / (sqrt(varX) * sqrt(varY))).as("lag1_autocorr"))
      .orderBy("user_id")
  }

  /** SCD2 version-interval build (the CDC/history-table shape): each event
    * becomes a version row [valid_from, valid_to) per user, valid_to from
    * lead(), open interval marked current. One shuffle+sort per user — the
    * standard change-capture pass a snapshot pipeline runs incrementally. */
  private def tsScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("version", row_number().over(w).cast(LongType))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("version"), col("ts").as("valid_from"),
        col("valid_to"), col("value"), col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "version")
  }

  /** One-sided CUSUM drift detector per user: S = max(0, S + dev) folded
    * left-to-right over the time-ordered series, dev = 2·cents − 2·median
    * (doubled so the dyadic median stays integer — the whole fold is exact
    * int64, identical to DuckDB's list_reduce). The reference-style
    * changepoint primitive; same collect+fold shape as [[tsEwma]]. */
  private def tsCusum(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val med = U.events(s, d)
      .agg(floor(percentile(vc, lit(0.5)) * 2).cast(LongType).as("med2"))
    U.events(s, d)
      .crossJoin(broadcast(med))
      .withColumn("dev", vc * 2 - col("med2"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("dev")))).as("pts"))
      .select(col("user_id"), size(col("pts")).cast(LongType).as("n"),
        expr("aggregate(transform(pts, p -> p.dev), CAST(0 AS BIGINT), " +
          "(acc, x) -> greatest(CAST(0 AS BIGINT), acc + x))").as("final_cusum2"))
      .orderBy("user_id")
  }

  /** 7-row rolling median per user in exact cents (dyadic 0.5 interpolation
    * over ints is exact in double on both engines) — the robust-smoothing
    * sibling of win_frame_rows' moving mean; same single sort order. */
  private def tsRollingMedian(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-6, 0)
    U.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        (percentile(U.cents(col("value")), lit(0.5)).over(w) / lit(100.0))
          .as("rolling_median"))
      .orderBy("event_id")
  }

  /** Trailing-1-hour windowed totals per user via a RANGE frame over exact
    * integer microseconds — the time-interval frame (vs win_frame_rows'
    * row-count frame): every event sees [ts−1h, ts] regardless of how many
    * rows that spans. Relies on the fixture's unique (user_id, ts). */
  private def tsTrailing1h(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("es"))
      .rangeBetween(-3600000000L, 0)
    U.events(s, d)
      .withColumn("es", unix_micros(col("ts")))
      .select(col("user_id"), col("event_id"), col("ts"),
        count(lit(1)).over(w).as("n_1h"),
        (sum(U.cents(col("value"))).over(w).cast(DoubleType) / lit(100.0))
          .as("sum_1h"))
      .orderBy("event_id")
  }

  /** MATCH_RECOGNIZE-lite adjacency pattern: a 'click' immediately followed
    * (no intervening event) by a 'purchase' in the same user's stream — the
    * lead() formulation of A-then-B sequence matching; one sort, no join. */
  private def tsPatternAb(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .withColumn("next_id", lead(col("event_id"), 1).over(w))
      .filter(col("event_type") === "click" && col("next_type") === "purchase")
      .select(col("user_id"), col("event_id").as("a_event_id"),
        col("ts").as("a_ts"), col("next_id").as("b_event_id"),
        col("next_ts").as("b_ts"),
        ((unix_micros(col("next_ts")) - unix_micros(col("ts"))).cast(DoubleType) /
          lit(1000000.0)).as("gap_seconds"))
      .orderBy("a_event_id")
  }

  /** Native session_window in BATCH mode (vs [[sessionizeOn]]'s lag-gap
    * construction): Spark merges events within 30 min of each other; the
    * window end is last-event + gap. The oracle rebuilds exactly those
    * bounds from the lag-gap sessions, pinning the two formulations to the
    * same semantics. */
  private def tsSessionNative(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), U.dsum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sstart"),
        col("session_window.end").as("send"), col("user_id"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "sstart")

  /** Hourly VWAP (volume-weighted average price) — the finance rung of
    * windowed time-series aggregation. Price = value in exact cents, volume
    * = the numeric field of the props JSON; vwap = Σ(price·vol)/Σvol with
    * both sums in the integer domain, so the single double division is the
    * only float op and matches the oracle bit-for-bit. One hash-agg shuffle
    * keyed on the hour — linear at any scale. */
  private def tsVwap(s: SparkSession, d: String): DataFrame = {
    val vol = regexp_extract(col("props"), "[0-9]+", 0).cast(LongType)
    U.events(s, d)
      .select(date_trunc("hour", col("ts")).as("hour"),
        U.cents(col("value")).as("pc"), vol.as("vol"))
      .groupBy(col("hour"))
      .agg(count(lit(1)).as("n_trades"), sum(col("vol")).as("total_vol"),
        (sum(col("pc") * col("vol")).cast(DoubleType) /
          (lit(100.0) * nullif(sum(col("vol")), lit(0L)).cast(DoubleType)))
          .as("vwap"))
      .orderBy("hour")
  }

  /** LTTB downsampling (largest-triangle-three-buckets — the standard
    * visual decimation for long series): keep first and last point, split
    * the middle into 8 buckets, and per bucket keep the point forming the
    * largest triangle with the PREVIOUSLY kept point and the next bucket's
    * centroid. The selection is sequential in the previous pick, so the 8
    * stages unroll into 8 chained per-user argmax joins (each over one
    * bucket's candidates — tiny frames, persisted once). All geometry runs
    * in integers: x = µs since the series start, y = cents, and triangle
    * areas are scaled by the next bucket's count so the centroid never
    * becomes a fraction — bit-identical to the oracle's unrolled CTEs.
    * Series with <= 10 points pass through whole. */
  private def tsLttb(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // LTTB is sequential IN the series (each pick depends on the previous
    // one) and embarrassingly parallel ACROSS series — so the distributed
    // shape is: one shuffle to co-locate each series, then one in-memory
    // sequential pass per series. The earlier 8-stage chained-join variant
    // (8 argmax joins + localCheckpoints) was plan-shaped like the math but
    // paid ~10 latency-bound jobs; this is 1 shuffle + 1 pass, and at 100 TB
    // the per-series pass is bounded by series length, not corpus size.
    // (Genuine per-partition imperative logic — the sanctioned mapPartitions
    // case; all arithmetic stays in the same integer (µs, cents) domain as
    // the unrolled-CTE oracle, so the hash gate is unaffected.)
    val sorted = U.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), U.cents(col("value")).as("y"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tus"), col("event_id"))
      .select(col("user_id"), col("tus"), col("y"))
      .as[(Long, Long, Long)]
    sorted.mapPartitions { it =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var uid = 0L
      var open = false
      def flush(): Iterator[(Long, Long, Long, Long, Long)] = {
        val n = buf.length
        val x0 = buf(0)._1
        val xs = Array.tabulate(n)(i => buf(i)._1 - x0)
        val ys = Array.tabulate(n)(i => buf(i)._2)
        val u = uid
        buf.clear()
        if (n <= 10) {
          Iterator.tabulate(n)(i => (u, i.toLong, i.toLong, xs(i), ys(i)))
        } else {
          val out = Array.newBuilder[(Long, Long, Long, Long, Long)]
          out += ((u, 0L, 0L, xs(0), ys(0)))
          val m = (n - 2).toLong
          // mid rows idx 1..n-2 → bucket ((idx-1)*8) div (n-2); idx is
          // monotone in bucket, so boundaries come from one scan
          val start = Array.fill(9)(n - 1)
          var idx = n - 2
          while (idx >= 1) {
            start(((idx - 1).toLong * 8L / m).toInt) = idx
            idx -= 1
          }
          var px = xs(0)
          var py = ys(0)
          var b = 0
          while (b < 8) {
            // anchor: next bucket's (count-scaled) centroid, or last point
            var sx = 0L; var sy = 0L; var c = 0L
            if (b < 7) {
              var j = start(b + 1)
              while (j < start(b + 2)) { sx += xs(j); sy += ys(j); c += 1; j += 1 }
            } else { sx = xs(n - 1); sy = ys(n - 1); c = 1L }
            var best = -1
            var bestScore = -1L
            var i = start(b)
            while (i < start(b + 1)) {
              val sc = math.abs((px * c - sx) * (ys(i) - py) -
                (px - xs(i)) * (sy - py * c))
              if (sc > bestScore) { bestScore = sc; best = i }
              i += 1
            }
            out += ((u, (b + 1).toLong, best.toLong, xs(best), ys(best)))
            px = xs(best); py = ys(best)
            b += 1
          }
          out += ((u, 9L, (n - 1).toLong, xs(n - 1), ys(n - 1)))
          out.result().iterator
        }
      }
      new Iterator[(Long, Long, Long, Long, Long)] {
        private var pending: Iterator[(Long, Long, Long, Long, Long)] =
          Iterator.empty
        def hasNext: Boolean = {
          while (!pending.hasNext && it.hasNext) {
            val (nuid, tus, y) = it.next()
            if (open && nuid != uid) pending = flush()
            uid = nuid
            open = true
            buf += ((tus, y))
          }
          if (!pending.hasNext && open && buf.nonEmpty) pending = flush()
          pending.hasNext
        }
        def next(): (Long, Long, Long, Long, Long) = {
          if (!hasNext) throw new NoSuchElementException
          pending.next()
        }
      }
    }.toDF("user_id", "rank", "idx", "x_us", "y_cents")
      .orderBy("user_id", "rank")
  }

  /** Drawdown: running peak minus current value per series (the
    * risk/alerting primitive) — one running-max window frame, integer
    * cents end to end. */
  private def tsDrawdown(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    U.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"),
        U.cents(col("value")).as("c"))
      .withColumn("peak_c", max(col("c")).over(w))
      .select(col("user_id"), col("event_id"),
        (col("peak_c") / lit(100.0)).cast(DoubleType).as("running_peak"),
        ((col("peak_c") - col("c")) / lit(100.0)).cast(DoubleType)
          .as("drawdown"))
      .orderBy("event_id")
  }

  /** Holt double exponential smoothing (level + trend), entirely in
    * integer fixed-point: lvl' = (30·y + 70·(lvl+tr)) DIV 100,
    * tr' = (20·(lvl'−lvl) + 80·tr) DIV 100 — the industrial forecast
    * smoother, exact on any engine (float recurrences drift; integer ones
    * don't, and Scala's and DuckDB's integer divisions both truncate
    * toward zero). Sequential in the series ⇒ same distributed shape as
    * [[tsLttb]]: one co-partitioning shuffle, one in-memory pass per
    * series; the oracle is a recursive CTE stepping idx→idx+1. */
  private def tsHolt(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sorted = U.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), U.cents(col("value")).as("y"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tus"), col("event_id"))
      .select(col("user_id"), col("event_id"), col("y"))
      .as[(Long, Long, Long)]
    sorted.mapPartitions { it =>
      var uid = 0L
      var started = false
      var lvl = 0L
      var tr = 0L
      var idx = -1L
      it.map { case (u, eid, y) =>
        if (!started || u != uid) {
          uid = u; started = true; idx = 0L; lvl = y; tr = 0L
        } else {
          idx += 1
          val nl = (30 * y + 70 * (lvl + tr)) / 100
          val nt = (20 * (nl - lvl) + 80 * tr) / 100
          lvl = nl; tr = nt
        }
        (u, idx, eid, lvl, tr)
      }
    }.toDF("user_id", "idx", "event_id", "lvl", "tr")
      .orderBy("user_id", "idx")
  }

  /** Theta-method one-step forecast per user series (the SES+drift
    * decomposition behind the M3-winning theta model): the level is a
    * simple-exponential-smoothing recurrence folded over the time-ordered
    * value list IN EXACT INTEGER CENTS (`aggregate` HOF — associativity
    * doesn't matter for a fold, and the integer domain makes the result
    * engine-identical), the drift is the exact endpoint slope
    * (last−first) DIV (n−1), and the theta(2) forecast combines them as
    * level + drift DIV 2. Unlike [[tsHolt]]'s per-row mapPartitions scan
    * this shape is a single hash aggregate: collect_list is bounded by
    * events-per-user (the same per-series-fits-in-memory assumption every
    * sequential smoother carries), and the fold is codegen-free but
    * per-group linear. One shuffle at any scale. */
  private def tsTheta(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_id"), U.cents(col("value")).as("y"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(
        struct(col("tus"), col("event_id"), col("y")))).as("seq"))
      .withColumn("ys", expr("transform(seq, x -> x.y)"))
      .withColumn("n", size(col("ys")).cast(LongType))
      .filter(col("n") >= 2)
      .withColumn("lvl", expr("aggregate(slice(ys, 2, size(ys) - 1), " +
        "element_at(ys, 1), (acc, y) -> (20 * y + 80 * acc) DIV 100)"))
      .withColumn("drift",
        expr("(element_at(ys, -1) - element_at(ys, 1)) DIV (n - 1)"))
      .withColumn("forecast",
        expr("CAST(lvl + drift DIV 2 AS DOUBLE) / 100.0"))
      .select(col("user_id"), col("n"), col("lvl"), col("drift"),
        col("forecast"))
      .orderBy("user_id")

  /** Holt–Winters additive triple smoothing (period 24) over each event
    * type's hourly mean series — the seasonal rung completing the
    * SES ([[tsTheta]]) / double ([[tsHolt]]) family. Everything runs in
    * exact integer cents: hourly means by integral division, the first
    * 24-hour cycle initializes level (cycle mean) and the seasonal array
    * (deviations), then one `aggregate` HOF folds the rest of the series
    * with a (level, trend, rolling-24 season list) STRUCT accumulator —
    * the head of the list is always s_{t−24}, consumed and re-appended
    * updated. Integer arithmetic is evaluation-order-free, so the DuckDB
    * recursive-CTE mirror needs no operand-tree discipline, only the same
    * values. Output is the final state + the one-step forecast
    * level + trend + next season. One shuffle (the hourly rollup);
    * the fold is per-group linear like every sequential smoother. */
  private def tsHoltWinters(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .groupBy(col("event_type"), date_trunc("HOUR", col("ts")).as("bucket"))
      .agg(expr("sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT)) " +
        "DIV count(1)").as("y"))
      .groupBy(col("event_type"))
      .agg(array_sort(collect_list(struct(col("bucket"), col("y"))))
        .as("seq"))
      .withColumn("ys", expr("transform(seq, x -> x.y)"))
      .withColumn("n", size(col("ys")).cast(LongType))
      .filter(col("n") >= 25)
      .withColumn("lvl0",
        expr("aggregate(slice(ys, 1, 24), 0L, (a, x) -> a + x) DIV 24"))
      .withColumn("st", expr(
        """aggregate(
          |  slice(ys, 25, size(ys) - 24),
          |  named_struct(
          |    'lvl', lvl0, 'tr', 0L,
          |    'seas', transform(slice(ys, 1, 24), x -> x - lvl0)),
          |  (st, y) -> named_struct(
          |    'lvl', (30 * (y - element_at(st.seas, 1)) +
          |            70 * (st.lvl + st.tr)) DIV 100,
          |    'tr', (20 * ((30 * (y - element_at(st.seas, 1)) +
          |                  70 * (st.lvl + st.tr)) DIV 100 - st.lvl) +
          |           80 * st.tr) DIV 100,
          |    'seas', concat(slice(st.seas, 2, 23), array(
          |      (30 * (y - ((30 * (y - element_at(st.seas, 1)) +
          |                   70 * (st.lvl + st.tr)) DIV 100)) +
          |       70 * element_at(st.seas, 1)) DIV 100))))
          |""".stripMargin))
      .select(col("event_type"), col("n"),
        col("st.lvl").as("lvl"), col("st.tr").as("tr"),
        expr("element_at(st.seas, 1)").as("s_next"),
        expr("CAST(st.lvl + st.tr + element_at(st.seas, 1) AS DOUBLE) / 100.0")
          .as("forecast"))
      .orderBy("event_type")

  /** Occupancy heatmap: events bucketed into (day-of-week, hour-of-day)
    * cells — the weekly-rhythm fingerprint behind load forecasting. Both
    * coordinates computed by pure integer epoch arithmetic (epoch day + 4
    * mod 7 ⇒ 0 = Monday) so neither engine's calendar-function conventions
    * (Spark 1=Sunday vs DuckDB 0=Sunday) can enter. */
  private def tsHeatmapBins(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .select(
        expr("((unix_micros(ts) DIV 86400000000) + 4) % 7").as("dow"),
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hod"),
        U.cents(col("value")).as("vc"))
      .groupBy(col("dow"), col("hod"))
      .agg(count(lit(1)).as("n"),
        (sum(col("vc")).cast(DoubleType) / lit(100.0)).as("sum_value"))
      .orderBy("dow", "hod")

  /** Longest sessions leaderboard: the [[sessionizeOn]] lag-gap pass
    * reduced to per-session summaries, then a GLOBAL top-10 by duration —
    * the session summary set is tiny relative to the events (one row per
    * session), so the final ordering is a cheap single-stage TopK
    * (TakeOrderedAndProject), not a sort of the raw data. */
  private def tsTopSessions(s: SparkSession, d: String): DataFrame =
    userSessions(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .withColumn("duration_us",
        unix_micros(col("session_end")) - unix_micros(col("session_start")))
      .orderBy(col("duration_us").desc, col("user_id"), col("session_id"))
      .limit(10)

  /** Unrolled-CTE mirror of [[tsLttb]]: pick_i selects bucket i's argmax
    * against sel_{i-1}'s point and bucket i+1's (count-scaled) centroid. */
  private lazy val lttbSql: String = {
    val score = "abs((s.px * a.c - a.sx) * (m.y - s.py) - " +
      "(s.px - m.x) * (a.sy - s.py * a.c))"
    val stages = (0 until 8).map { i =>
      val prev = if (i == 0) "sel0" else s"pick${i}"
      val prevSel =
        if (i == 0) "sel0 AS (SELECT user_id, x AS px, y AS py FROM pts WHERE idx = 0 AND n > 10), "
        else ""
      val ancJoin =
        if (i < 7) s"JOIN anc a ON m.user_id = a.user_id AND a.bk = ${i + 1} "
        else "JOIN lastp a ON m.user_id = a.user_id "
      val prevCols =
        if (i == 0) "s.user_id, s.px, s.py" else "s.user_id, s.x AS px, s.y AS py"
      prevSel +
        s"pick${i + 1} AS (SELECT user_id, idx, x, y FROM (" +
        s"SELECT m.user_id, m.idx, m.x, m.y, row_number() OVER (" +
        s"PARTITION BY m.user_id ORDER BY $score DESC, m.idx) AS rn " +
        s"FROM mid m JOIN (SELECT $prevCols FROM $prev s) s " +
        s"ON m.user_id = s.user_id $ancJoin WHERE m.bk = $i) WHERE rn = 1)"
    }.mkString(", ")
    "WITH base AS (SELECT user_id, " +
      s"${OSQL.cents("value")} AS y, " +
      "CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 " +
      "AS BIGINT) AS idx, " +
      "epoch_us(ts) - MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS x, " +
      "COUNT(*) OVER (PARTITION BY user_id) AS n FROM events), " +
      "pts AS (SELECT * FROM base), " +
      "mid AS (SELECT *, ((idx - 1) * 8) // (n - 2) AS bk FROM pts " +
      "WHERE n > 10 AND idx >= 1 AND idx <= n - 2), " +
      "anc AS (SELECT user_id, bk, SUM(x) AS sx, SUM(y) AS sy, COUNT(*) AS c " +
      "FROM mid GROUP BY 1, 2), " +
      "lastp AS (SELECT user_id, x AS sx, y AS sy, CAST(1 AS BIGINT) AS c " +
      "FROM pts WHERE n > 10 AND idx = n - 1), " +
      stages + " " +
      "SELECT user_id, rank, idx, x AS x_us, y AS y_cents FROM (" +
      "SELECT user_id, idx AS rank, idx, x, y FROM pts WHERE n <= 10 " +
      "UNION ALL SELECT user_id, 0, idx, x, y FROM pts WHERE n > 10 AND idx = 0 " +
      (1 to 8).map(i =>
        s"UNION ALL SELECT user_id, $i, idx, x, y FROM pick$i ").mkString +
      "UNION ALL SELECT user_id, 9, idx, x, y FROM pts WHERE n > 10 AND idx = n - 1" +
      ") ORDER BY user_id, rank"
  }

  /** Local-extremum detection (alarm/peak picking over sensor series): an
    * event is a peak when its value strictly exceeds both neighbors in the
    * user's time order, a trough when strictly below. Endpoints and plateau
    * members are excluded — the unambiguous definition, so both engines
    * agree without a tie rule. One shuffle+sort per user (two lag/lead over
    * the same window spec share the sort); comparisons in exact cents. */
  private def tsPeakDetect(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        U.cents(col("value")).as("c"))
      .withColumn("pc", lag(col("c"), 1).over(w))
      .withColumn("nc", lead(col("c"), 1).over(w))
      .filter(col("pc").isNotNull && col("nc").isNotNull &&
        ((col("c") > col("pc") && col("c") > col("nc")) ||
          (col("c") < col("pc") && col("c") < col("nc"))))
      .select(col("user_id"), col("event_id"), col("ts"), col("value"),
        when(col("c") > col("pc"), lit("peak")).otherwise(lit("trough"))
          .as("kind"))
      .orderBy("event_id")
  }

  /** Per-series least-squares trend (slope + intercept of value-vs-time):
    * the moments Σx, Σy, Σxy, Σx² are summed EXACTLY — per-row products fit
    * BIGINT (x = epoch seconds ~2e9, y = cents ~1e5 ⇒ xy ~2e14, x² ~4e18),
    * and the sums go through DECIMAL(38,0) so no scale wraps them — then
    * the closed-form slope/intercept runs in DOUBLE with the identical
    * operation tree on both engines (exact inputs + same IEEE ops = equal
    * bits). One hash agg, map-side combined: the 100 TB shape. */
  private def tsTrend(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val D = DoubleType
    val g = U.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 1000000").as("x"),
        U.cents(col("value")).as("y"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum((col("x") * col("y")).cast(dec)).as("sxy"),
        sum((col("x") * col("x")).cast(dec)).as("sxx"))
    val (n, sx, sy, sxy, sxx) = (col("n").cast(D), col("sx").cast(D),
      col("sy").cast(D), col("sxy").cast(D), col("sxx").cast(D))
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    g.select(col("event_type"), col("n"),
        slope.as("slope_cents_per_sec"),
        ((sy - slope * sx) / n).as("intercept_cents"))
      .orderBy("event_type")
  }

  /** Machine-availability rollup — the OEE-style uptime metric of an
    * industrial time-sequence pipeline: 30-minute-gap activity sessions per
    * unit ([[sessionizeOn]]), each attributed to its START day,
    * then per unit-day active micros and an availability ratio. All
    * interval arithmetic in integer micros; the single ratio division runs
    * in DOUBLE with the identical op tree both sides. One window sort per
    * unit + one hash agg — the same shape at fleet scale. */
  private def tsUptime(s: SparkSession, d: String): DataFrame =
    userSessions(s, d)
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(unix_micros(col("ts"))).as("s_us"),
        max(unix_micros(col("ts"))).as("e_us"))
      .groupBy(col("user_id"),
        to_date(timestamp_micros(col("s_us"))).as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("e_us") - col("s_us")).as("active_us"))
      .withColumn("availability",
        col("active_us").cast(DoubleType) / lit(86400000000.0))
      .orderBy("user_id", "day")

  /** Event-type transition matrix (the first-order Markov profile of the
    * event stream — what follows what): per user, each event pairs with its
    * time-successor (lead over ts, event_id), transitions are counted
    * globally, and the per-row transition probability is floored to integer
    * MICRO-UNITS against the row total — a windowed integer division, so no
    * float ever enters and partial-aggregation order is irrelevant. One
    * window sort per user shard + one hash agg on a |types|² frame; at
    * 100 TB the output is still |event_types|² rows. */
  private def tsMarkov(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val rowW = Window.partitionBy(col("from_type"))
    U.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total", sum(col("n")).over(rowW))
      .withColumn("p_micro", expr("(1000000 * n) DIV row_total"))
      .orderBy("from_type", "to_type")
  }

  /** Cross-series correlation matrix (which event types move together —
    * the multivariate sibling of [[tsAutocorr]]): hourly exact-cents sums
    * per event type, then Pearson correlation for every type pair over
    * their common hours, through the same [[U.covPowerSums]] exact
    * power-sum tree. The hourly rollup is one hash agg; the pair join is
    * |types|·|hours| rows — at 100 TB still a broadcast-sized frame
    * because the type alphabet is fixed. */
  private def tsCorrMatrix(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(U.cents(col("value"))).as("sc"))
    val a = hourly.select(col("event_type").as("type_a"), col("hour"),
      col("sc").as("xa"))
    val b = hourly.select(col("event_type").as("type_b"), col("hour"),
      col("sc").as("xb"))
    a.join(b, Seq("hour")).filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("xa")).cast(DoubleType).as("sx"),
        sum(col("xb")).cast(DoubleType).as("sy"),
        sum(col("xa").cast(dec) * col("xa").cast(dec)).cast(DoubleType).as("sxx"),
        sum(col("xb").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("syy"),
        sum(col("xa").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("sxy"))
      .select(col("type_a"), col("type_b"),
        col("nd").cast(LongType).as("n_hours"),
        (U.covPowerSums(col("sxy"), col("sx"), col("sy"), col("nd")) /
          (sqrt(U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))) *
            sqrt(U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd")))))
          .as("corr"))
      .orderBy("type_a", "type_b")
  }

  /** Binary-segmentation changepoint per user (the offline sibling of
    * [[tsCusum]]): the split index maximizing the cumulative mean-shift
    * statistic |n·S_t − t·S_n| — the CUSUM deviation cross-multiplied into
    * pure int64 so no division (and no float) enters the argmax; ties
    * break to the earliest index via the ranking window. One prefix-sum
    * window + one ranking window per user shard, both on the same
    * partitioning — at 100 TB this is two sorts of each user's slice,
    * no cross-user traffic. The segment means re-enter doubles only in
    * the output projection. */
  private def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // the per-user totals come from an unordered window over the SAME
    // partitioning as the prefix sums — no groupBy + join-back shuffle,
    // the user shard is sorted once and scanned twice in place
    val wu = Window.partitionBy(col("user_id"))
    val pts = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("t", row_number().over(w).cast(LongType))
      .withColumn("st", sum(col("vc")).over(w))
      .withColumn("n", count(lit(1)).over(wu))
      .withColumn("sn", sum(col("vc")).over(wu))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("stat").desc, col("t"))
    pts
      .filter(col("t") < col("n"))
      .withColumn("stat", abs(col("n") * col("st") - col("t") * col("sn")))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("t").as("split_t"), col("n"), col("stat"),
        (col("st").cast(DoubleType) / (lit(100.0) * col("t"))).as("mean_left"),
        ((col("sn") - col("st")).cast(DoubleType) /
          (lit(100.0) * (col("n") - col("t")))).as("mean_right"))
      .orderBy("user_id")
  }

  /** SAX symbolization of each user's daily series (the symbolic
    * aggregate approximation classic — series become strings, so motif
    * search and indexing run on text machinery): global quartile
    * breakpoints in doubled cents (the [[tsCusum]] dyadic-median trick,
    * applied to quantile_cont's .5 interpolants), daily means compared by
    * integer CROSS-MULTIPLICATION (2·S_day vs bp·n_day — no division, so
    * the symbol decision is exact), then one ordered listagg per user.
    * The breakpoint frame broadcasts; everything else is one hash agg +
    * one per-user sort. */
  /** Per-(user, day) SAX symbol frame — shared by [[tsSax]] (string
    * assembly) and [[tsMotif]] (motif counting); one definition so the
    * two symbolizations cannot drift. */
  private def saxSymbols(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val bp = U.events(s, d).agg(
      floor(percentile(vc, lit(0.25)) * 2).cast(LongType).as("bp25"),
      floor(percentile(vc, lit(0.5)) * 2).cast(LongType).as("bp50"),
      floor(percentile(vc, lit(0.75)) * 2).cast(LongType).as("bp75"))
    U.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(U.cents(col("value"))).as("sd"), count(lit(1)).as("nd"))
      .crossJoin(broadcast(bp))
      .withColumn("sym",
        when(col("sd") * 2 < col("bp25") * col("nd"), lit("a"))
          .when(col("sd") * 2 < col("bp50") * col("nd"), lit("b"))
          .when(col("sd") * 2 < col("bp75") * col("nd"), lit("c"))
          .otherwise(lit("d")))
      .select(col("user_id"), col("day"), col("sym"))
  }

  private def tsSax(s: SparkSession, d: String): DataFrame = {
    saxSymbols(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_days"),
        expr("listagg(sym, '') WITHIN GROUP (ORDER BY day)").as("sax"))
      .orderBy("user_id")
  }

  /** Fixed reference pattern for [[tsDtw]] (cents): a rise-peak-decay
    * shape. One definition feeds both the Spark DP and the oracle text. */
  private[graft] val DtwPattern =
    Array(1000L, 3000L, 6000L, 8000L, 7000L, 5000L, 3000L, 1500L)

  /** Dynamic time warping distance of each user's series against a fixed
    * 8-point reference pattern (THE classic industrial time-sequence
    * similarity measure — alignment-tolerant, unlike Euclidean): each
    * user's daily series is first PAA-compressed to 8 segments (ntile over
    * day order, floored integer segment means — both engines put ntile's
    * remainder in the leading buckets), then the full 8×8 DTW dynamic
    * program is UNROLLED as 64 chained integer column expressions —
    * D[i][j] = |s_i − p_j| + min(D[i−1][j], D[i][j−1], D[i−1][j−1]) — so
    * the whole recurrence is exact int64 with no loop, no UDF, and no
    * float. Per user the work is O(1); across users it is one hash agg +
    * one per-user ntile sort — embarrassingly parallel at 100 TB. Users
    * with fewer than 8 observed days have no full PAA vector and drop on
    * both engines. */
  private def tsDtw(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val seg = U.events(s, d)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(U.cents(col("value"))).as("sd"), count(lit(1)).as("nd"))
      .withColumn("seg", ntile(8).over(w).cast(LongType))
      .groupBy(col("user_id"), col("seg"))
      .agg(expr("sum(sd) DIV sum(nd)").as("m"))
    val paa = seg.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_seg"),
        (1 to 8).map(j => max(when(col("seg") === j, col("m"))).as(s"s$j")): _*)
      .filter(col("n_seg") === 8)
    val cells = for { i <- 1 to 8; j <- 1 to 8 } yield (i, j)
    cells.foldLeft(paa) { case (df, (i, j)) =>
      val cost = abs(col(s"s$i") - lit(DtwPattern(j - 1)))
      df.withColumn(s"d_${i}_$j",
        if (i == 1 && j == 1) cost
        else if (i == 1) cost + col(s"d_1_${j - 1}")
        else if (j == 1) cost + col(s"d_${i - 1}_1")
        else cost + least(col(s"d_${i - 1}_$j"), col(s"d_${i}_${j - 1}"),
          col(s"d_${i - 1}_${j - 1}")))
    }
      .select(col("user_id") +: (1 to 8).map(i => col(s"s$i")) :+
        col("d_8_8").as("dtw_dist"): _*)
      .orderBy("user_id")
  }

  /** Run-length profile of each user's above/below-median regime (the RLE
    * compression view of a series — how persistent are high/low states):
    * per-event regime bit decided by integer cross-comparison against the
    * doubled global median (no division), runs identified by the
    * gaps-islands anchor t − row_number-within-regime (both windows share
    * the user partitioning: one exchange), then per (user, regime) run
    * count / max / mean length. */
  private def tsRunLength(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val med = U.events(s, d)
      .agg(floor(percentile(vc, lit(0.5)) * 2).cast(LongType).as("med2"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wr = Window.partitionBy(col("user_id"), col("regime"))
      .orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .withColumn("vc", vc)
      .crossJoin(broadcast(med))
      .withColumn("regime", when(col("vc") * 2 >= col("med2"), 1L).otherwise(0L))
      .withColumn("t", row_number().over(w).cast(LongType))
      .withColumn("grp", col("t") - row_number().over(wr))
      .groupBy(col("user_id"), col("regime"), col("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"), col("regime"))
      .agg(count(lit(1)).as("n_runs"), max(col("len")).as("max_run"),
        (sum(col("len")).cast(DoubleType) / count(lit(1))).as("avg_run"))
      .orderBy("user_id", "regime")
  }

  /** Seasonal strength = lag-24h autocorrelation of each type's hourly
    * series (the rational periodicity probe — no trig, so no libm
    * divergence risk): the hourly exact-cents sums self-join shifted by
    * exactly 24 hours, then the same [[U.covPowerSums]] correlation tree
    * as [[tsAutocorr]]. A value near 1 = strong daily cycle. */
  private def tsSeasonalStrength(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(sum(U.cents(col("value"))).as("sc"))
    val cur = hourly.select(col("event_type"), col("hour"), col("sc").as("xa"))
    val lag24 = hourly.select(col("event_type"),
      (col("hour") + expr("INTERVAL 24 HOURS")).as("hour"), col("sc").as("xb"))
    cur.join(lag24, Seq("event_type", "hour"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("xa")).cast(DoubleType).as("sx"),
        sum(col("xb")).cast(DoubleType).as("sy"),
        sum(col("xa").cast(dec) * col("xa").cast(dec)).cast(DoubleType).as("sxx"),
        sum(col("xb").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("syy"),
        sum(col("xa").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("sxy"))
      .select(col("event_type"), col("nd").cast(LongType).as("n_pairs"),
        (U.covPowerSums(col("sxy"), col("sx"), col("sy"), col("nd")) /
          (sqrt(U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))) *
            sqrt(U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd")))))
          .as("seasonal_corr"))
      .orderBy("event_type")
  }

  /** SAX motif discovery (the payoff of symbolization — which 3-day shapes
    * recur across the fleet): every consecutive 3-day symbol window per
    * user becomes a motif string; motifs are counted globally with their
    * distinct-user support. One lead window over the tiny per-day frame +
    * one ≤64-group hash agg — at 100 TB the motif table is still at most
    * |alphabet|³ rows. */
  private def tsMotif(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    saxSymbols(s, d)
      .withColumn("s2", lead(col("sym"), 1).over(w))
      .withColumn("s3", lead(col("sym"), 2).over(w))
      .filter(col("s3").isNotNull)
      .select(col("user_id"), concat(col("sym"), col("s2"), col("s3")).as("motif"))
      .groupBy(col("motif"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy("motif")
  }

  /** Lead–lag discovery between event-type series (which metric MOVES
    * FIRST — the cross-correlation scan behind every "A predicts B"
    * dashboard): Pearson correlation of the two hourly exact-cents series
    * at every shift in [−3h, +3h], then the argmax lag per ordered type
    * pair (ties to the smallest lag). The lag dimension comes from ONE
    * explode — the shifted join is still a single equijoin on (type,
    * shifted hour); power sums and the correlation tree are the shared
    * exact machinery of [[tsCorrMatrix]]. Output is |types|²·1 rows at
    * any scale. */
  private def tsCrossCorr(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // integer hour indexes (epoch µs DIV 3600000000) so the shifted join
    // is pure integer arithmetic — no interval/calendar semantics at all
    val hourly = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hidx"))
      .agg(sum(U.cents(col("value"))).as("sc"))
    // the shifted key is computed on the a-side BEFORE the join so Catalyst
    // sees a plain equi-join (hidx − lag_h = bhidx); mixing sides in the
    // condition would leave no extractable key → nested-loop join
    val a = hourly.select(col("event_type").as("type_a"), col("hidx"),
      col("sc").as("xa"))
      .withColumn("lag_h", explode(array((-3 to 3).map(l => lit(l.toLong)): _*)))
      .withColumn("shifted", col("hidx") - col("lag_h"))
    val b = hourly.select(col("event_type").as("type_b"),
      col("hidx").as("bhidx"), col("sc").as("xb"))
    val ps = a.join(b,
        col("shifted") === col("bhidx") && col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"), col("lag_h"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("xa")).cast(DoubleType).as("sx"),
        sum(col("xb")).cast(DoubleType).as("sy"),
        sum(col("xa").cast(dec) * col("xa").cast(dec)).cast(DoubleType).as("sxx"),
        sum(col("xb").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("syy"),
        sum(col("xa").cast(dec) * col("xb").cast(dec)).cast(DoubleType).as("sxy"))
    val w = Window.partitionBy(col("type_a"), col("type_b"))
      .orderBy(col("corr").desc, col("lag_h"))
    ps.select(col("type_a"), col("type_b"), col("lag_h"),
        col("nd").cast(LongType).as("n_hours"),
        (U.covPowerSums(col("sxy"), col("sx"), col("sy"), col("nd")) /
          (sqrt(U.covPowerSums(col("sxx"), col("sx"), col("sx"), col("nd"))) *
            sqrt(U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd")))))
          .as("corr"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("type_a"), col("type_b"), col("lag_h").as("best_lag_h"),
        col("n_hours"), col("corr"))
      .orderBy("type_a", "type_b")
  }

  // ───── technical-indicator family (round-7 expansion) ─────

  /** 14-period RSI (SMA gain/loss variant) per user: consecutive deltas in
    * exact integer cents, gains/losses summed over a 14-row trailing
    * window, RSI = 100·Σgain/(Σgain+Σloss) — ONE double division of two
    * exact integers at the very end (the [[tsBollinger]] discipline). Rows
    * emit only once the window holds 14 real deltas (rn ≥ 15); an all-flat
    * window nulls out via nullif identically in both engines. One window
    * pass per user partition — linear, same scale shape as every other
    * rolling indicator here. */
  private def tsRsi(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w14 = w.rowsBetween(-13, Window.currentRow)
    val vc = U.cents(col("value"))
    U.events(s, d)
      .withColumn("diff_c", vc - lag(vc, 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("sum_gain",
        sum(when(col("diff_c") > 0, col("diff_c")).otherwise(lit(0L))).over(w14))
      .withColumn("sum_loss",
        sum(when(col("diff_c") < 0, -col("diff_c")).otherwise(lit(0L))).over(w14))
      .filter(col("rn") >= 15)
      .select(col("event_id"), col("user_id"),
        (lit(100.0) * col("sum_gain").cast(DoubleType) /
          nullif((col("sum_gain") + col("sum_loss")).cast(DoubleType), lit(0.0)))
          .as("rsi"))
      .orderBy("event_id")
  }

  /** Stochastic oscillator per user: %K = 100·(v−min₁₄)/(max₁₄−min₁₄) over
    * a 14-row trailing window in exact cents; %D is the 3-sample mean of
    * %K written as an EXPLICIT lag chain (k + k₋₁ + k₋₂)/3 — a windowed
    * AVG's accumulation order is engine-private, a lag chain's is fixed.
    * Flat windows null out via nullif; emission starts at rn ≥ 16 so every
    * %K feeding %D has a full window. */
  private def tsStochastic(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w14 = w.rowsBetween(-13, Window.currentRow)
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("rn", row_number().over(w))
      .withColumn("min14", min(col("vc")).over(w14))
      .withColumn("max14", max(col("vc")).over(w14))
      .withColumn("pct_k",
        lit(100.0) * (col("vc") - col("min14")).cast(DoubleType) /
          nullif((col("max14") - col("min14")).cast(DoubleType), lit(0.0)))
      .withColumn("pct_d",
        (col("pct_k") + lag(col("pct_k"), 1).over(w) +
          lag(col("pct_k"), 2).over(w)) / lit(3.0))
      .filter(col("rn") >= 16)
      .select(col("event_id"), col("user_id"), col("pct_k"), col("pct_d"))
      .orderBy("event_id")
  }

  /** SMA crossover detector (golden/death cross): compare the 10- and
    * 30-row trailing means per user WITHOUT any division — avg₁₀ vs avg₃₀
    * ⇔ 3·Σ₁₀ vs Σ₃₀ in exact cents — and report rows where that relation's
    * sign flips from the previous row (both rows' windows full: rn ≥ 31).
    * Pure integer predicate end to end, so the crossing set is
    * deterministic at any scale; one window pass. */
  private def tsSmaCross(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val vc = U.cents(col("value"))
    val rel = lit(3L) * col("s10") - col("s30")
    U.events(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("s10", sum(vc).over(w.rowsBetween(-9, Window.currentRow)))
      .withColumn("s30", sum(vc).over(w.rowsBetween(-29, Window.currentRow)))
      .withColumn("state",
        when(rel > 0, lit(1L)).when(rel < 0, lit(-1L)).otherwise(lit(0L)))
      .withColumn("prev_state", lag(col("state"), 1).over(w))
      .filter(col("rn") >= 31 && col("state") =!= 0L &&
        col("state") =!= col("prev_state"))
      .select(col("event_id"), col("user_id"), col("ts"),
        when(col("state") === 1L, lit("golden")).otherwise(lit("death"))
          .as("direction"))
      .orderBy("event_id")
  }

  /** Three-step conversion funnel within a 24-hour window (the
    * windowFunnel shape): the user's FIRST click anchors the window, then
    * the first view strictly after it, then the first purchase strictly
    * after that view — all inside anchor+24 h; funnel_level = deepest
    * step reached (0–3), earliest-completion semantics. Generalizes
    * [[tsFunnel]]'s 2-step form to an ordered chain. Each step is one
    * filtered hash-agg over events joined to the |users|-sized anchor
    * frame of the previous step, dispatched through [[anchorGate]]
    * (broadcast below [[UserAnchorCap]], shuffle-hash above) — never a
    * per-user event-sequence collect, so the shape survives any event
    * volume. */
  private def tsWindowFunnel(s: SparkSession, d: String): DataFrame =
    tsWindowFunnelImpl(s, d, UserAnchorCap)

  private[graft] def tsWindowFunnelImpl(s: SparkSession, d: String,
      cap: Long): DataFrame = {
    val ev = U.events(s, d)
    val (t1, w1) = anchorGate(
      ev.filter(col("event_type") === "click")
        .groupBy(col("user_id").as("u1")).agg(min(col("ts")).as("t1")), cap)
    val (t2, w2) = anchorGate(
      ev.join(w1(t1), col("user_id") === col("u1"))
        .filter(col("event_type") === "view" && col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id").as("u2"), col("t1").as("t1b"))
        .agg(min(col("ts")).as("t2")), cap)
    val (t3, w3) = anchorGate(
      ev.join(w2(t2), col("user_id") === col("u2"))
        .filter(col("event_type") === "purchase" && col("ts") > col("t2") &&
          col("ts") <= col("t1b") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id").as("u3")).agg(min(col("ts")).as("t3")), cap)
    ev.select(col("user_id")).distinct()
      .join(w1(t1), col("user_id") === col("u1"), "left_outer")
      .join(w2(t2.select(col("u2"), col("t2"))),
        col("user_id") === col("u2"), "left_outer")
      .join(w3(t3), col("user_id") === col("u3"), "left_outer")
      .select(col("user_id"),
        (when(col("t3").isNotNull, 3L)
          .when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L)).as("funnel_level"),
        col("t1"), col("t2"), col("t3"))
      .orderBy("user_id")
  }

  /** Additive trend/seasonal/residual decomposition of each type's hourly
    * series — the STL-shaped one-pass variant an industrial monitor runs
    * before alarming on residuals: trend = ±12 h centered moving mean of
    * the hourly cent sums, seasonal = hour-of-day mean of the DETRENDED
    * series, residual = remainder. Everything lives in exact integer
    * micro-cents via integral division (both engines truncate toward
    * zero, including on negative detrended values — probed), so the
    * decomposition reconstructs exactly: 10⁶·sc = trend + seasonal +
    * resid + the two division remainders folded into resid. One hash agg
    * + one window pass + one broadcast-size seasonal join. */
  private def tsDecompose(s: SparkSession, d: String): DataFrame = {
    val hourly = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hidx"))
      .agg(sum(U.cents(col("value"))).as("sc"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hidx"))
      .rowsBetween(-12, 12)
    val detrended = hourly
      .withColumn("tsum", sum(col("sc")).over(w))
      .withColumn("tn", count(lit(1)).over(w))
      .withColumn("trend_micro", expr("(1000000 * tsum) DIV tn"))
      .withColumn("d_micro", expr("1000000 * sc - trend_micro"))
      .withColumn("hod", pmod(col("hidx"), lit(24L)))
    val seasonal = detrended.groupBy(col("event_type").as("et2"),
        col("hod").as("hod2"))
      .agg(expr("SUM(d_micro) DIV COUNT(*)").as("seasonal_micro"))
    detrended.join(broadcast(seasonal),
        col("event_type") === col("et2") && col("hod") === col("hod2"))
      .select(col("event_type"), col("hidx"), col("sc"), col("trend_micro"),
        col("seasonal_micro"),
        (col("d_micro") - col("seasonal_micro")).as("resid_micro"))
      .orderBy("event_type", "hidx")
  }

  /** Hysteresis alarm detection — the SCADA two-threshold alarm an
    * industrial monitor runs on every sensor: the alarm turns ON when the
    * value rises above the per-type Q3 and turns OFF only when it falls
    * back below the per-type median, so values oscillating between the
    * two thresholds cannot flap the alarm. The latched state is
    * last(edge IGNORE NULLS) over the per-(user, type) ordered stream —
    * the [[win_fill_forward]] primitive carrying alarm state instead of a
    * fill value. Thresholds in exact quarter-cents (the agg_boxplot
    * domain), every comparison integer; the tiny per-type threshold frame
    * broadcasts. One window pass. */
  private def tsHysteresis(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val th = U.events(s, d).groupBy(col("event_type").as("et")).agg(
      floor(percentile(vc, lit(0.75)) * 4).cast(LongType).as("hi_qc"),
      floor(percentile(vc, lit(0.5)) * 4).cast(LongType).as("lo_qc"))
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    U.events(s, d).join(broadcast(th), col("event_type") === col("et"))
      .withColumn("edge",
        when(vc * 4 > col("hi_qc"), lit(1L))
          .when(vc * 4 < col("lo_qc"), lit(0L)))
      .withColumn("alarm", coalesce(
        last(col("edge"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
        lit(0L)))
      .withColumn("prev_alarm", lag(col("alarm"), 1).over(w))
      .select(col("event_id"), col("user_id"), col("event_type"), col("alarm"),
        (col("alarm") === 1L && coalesce(col("prev_alarm"), lit(0L)) === 0L)
          .as("is_onset"))
      .orderBy("event_id")
  }

  /** Shared struct-fold scaffold for [[tsMacd]]/[[tsKalman]]: sort each
    * user's points once, lift them into a state-struct list, and left-fold
    * the tail onto the first element — Spark's aggregate() and DuckDB's
    * list_reduce execute the identical lambda text over the identical
    * order, so every double in the recursion is bit-equal (the [[tsEwma]]
    * discipline extended to multi-field state). `mk` builds the per-point
    * initial struct from `p.value`; `step` is the (acc, x) body. */
  private def structFold(s: SparkSession, d: String, mk: String,
      step: String): DataFrame = structFoldOn(U.events(s, d), mk, step)

  /** Kernel over an arbitrary (user_id, ts, event_id, value) frame so
    * StressSpec can drive series far longer than the fixtures hold. Scale
    * posture: the collect_list is bounded by the longest single series —
    * fine for per-sensor industrial streams (≤ millions of points, one
    * array per key); a series that outgrows one task's memory needs the
    * affine-map segmented scan (EWMA/Kalman steps are affine in the state,
    * so segment folds compose associatively) — that reformulation changes
    * the double-op ORDER, so it cannot share these queries' exact oracle
    * and stays a documented alternative, not the declared path. */
  private[graft] def structFoldOn(ev: DataFrame, mk: String,
      step: String): DataFrame = {
    val lifted = s"transform(pts, p -> $mk)"
    ev
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
        col("value")))).as("pts"))
      .select(col("user_id"), size(col("pts")).cast(LongType).as("n"),
        expr(s"aggregate(slice($lifted, 2, size(pts) - 1), " +
          s"element_at($lifted, 1), (acc, x) -> $step)").as("fin"))
  }

  /** MACD per user via one struct-accumulator left fold: the fast (α=.15),
    * slow (α=.075) and signal (α=.2) EWMAs advance in lockstep through a
    * single aggregate() pass. FIELD ORDER IS LOAD-BEARING: DuckDB 1.0's
    * list_reduce writes the accumulator's fields IN PLACE left to right,
    * so a later field referencing an earlier-updated acc field reads the
    * NEW value, where Spark's lambda reads the old one (probed and pinned
    * in IndicatorSpec's doc). With 'sig' FIRST, every field references
    * only not-yet-overwritten acc values — identical semantics in both
    * engines: the in-fold signal tracks the lag-1 MACD, and the final
    * step's signal update is applied once OUTSIDE the fold. */
  private def tsMacd(s: SparkSession, d: String): DataFrame = {
    val macd = col("fin.e12") - col("fin.e26")
    val sig = lit(0.2) * (col("fin.e12") - col("fin.e26")) +
      lit(0.8) * col("fin.sig")
    structFold(s, d,
      "named_struct('sig', CAST(0.0 AS DOUBLE), 'e12', p.value, 'e26', p.value)",
      "named_struct(" +
        "'sig', 0.2 * (acc.e12 - acc.e26) + 0.8 * acc.sig, " +
        "'e12', 0.15 * x.e12 + 0.85 * acc.e12, " +
        "'e26', 0.075 * x.e26 + 0.925 * acc.e26)")
      .select(col("user_id"), col("n"), macd.as("macd"),
        sig.as("macd_signal"), (macd - sig).as("histogram"))
      .orderBy("user_id")
  }

  /** 1-D random-walk Kalman filter per user (q=.01, r=1): the classic
    * sensor-smoothing recursion x' = x + K·(z−x), p' = (1−K)·(p+q) with
    * K = (p+q)/(p+q+r), folded through the same struct-fold scaffold as
    * [[tsMacd]]. The gain expression is restated inline wherever it's
    * consumed so both engines evaluate one identical double tree; field
    * order ('x' then 'p') is safe under DuckDB's in-place sequential
    * field writes because neither field reads the other's updated value
    * (see [[tsMacd]]'s field-order note). Output:
    * final filtered level and posterior variance per user (p converges to
    * the steady-state Riccati value, asserted in IndicatorSpec). */
  private def tsKalman(s: SparkSession, d: String): DataFrame =
    structFold(s, d,
      "named_struct('x', p.value, 'p', CAST(1.0 AS DOUBLE))",
      "named_struct(" +
        "'x', acc.x + ((acc.p + 0.01) / (acc.p + 0.01 + 1.0)) * (x.x - acc.x), " +
        "'p', (1.0 - ((acc.p + 0.01) / (acc.p + 0.01 + 1.0))) * (acc.p + 0.01))")
      .select(col("user_id"), col("n"), col("fin.x").as("level"),
        col("fin.p").as("variance"))
      .orderBy("user_id")

  /** Rolling OLS trend per user: slope and intercept of value-vs-index over
    * the trailing 10 points, emitted once the frame is full. All four power
    * sums (Σx, Σy, Σxy, Σx²) are exact Longs over one ROWS frame — the only
    * doubles are the two closing divisions, with the oracle mirroring the
    * operation tree token-for-token. One shuffle (the per-user sort); the
    * window never materializes more than the 10-row frame per position, so
    * the shape is the same at 100 TB. x is the per-user row index, so slope
    * is value-units per step; products stay far inside Long (idx ≤ rows per
    * user, cents ≤ 5e4 → idx·cents·10 ≤ 1e12 even at 1e6 rows/user). */
  private def tsRollingOls(s: SparkSession, d: String): DataFrame =
    rollingOlsOn(U.events(s, d).withColumn("vc", U.cents(col("value"))),
        "user_id", Seq(col("ts"), col("event_id")), "vc", 10)
      .select(col("event_id"), col("user_id"), col("ts"), col("slope"),
        col("intercept"))
      .orderBy("event_id")

  /** The rolling-OLS kernel behind [[tsRollingOls]] and
    * [[graft.api.GraftApi.rollingOls]]: over each `key`'s rows in `order`,
    * the trailing-`window` slope and intercept of the exact-integer cents
    * column `vc` against the row index, appended as `slope`/`intercept`
    * to rows whose frame is full. */
  private[graft] def rollingOlsOn(df: DataFrame, key: String,
      order: Seq[Column], vc: String, window: Int): DataFrame = {
    require(window >= 2)
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    val f = w.rowsBetween(-(window - 1), Window.currentRow)
    val n = window.toDouble
    df.withColumn("__rn", row_number().over(w).cast(LongType))
      .withColumn("__sx", sum(col("__rn")).over(f))
      .withColumn("__sy", sum(col(vc)).over(f))
      .withColumn("__sxy", sum(col("__rn") * col(vc)).over(f))
      .withColumn("__sxx", sum(col("__rn") * col("__rn")).over(f))
      .filter(col("__rn") >= window)
      .withColumn("slope",
        (lit(n) * col("__sxy") - col("__sx").cast(DoubleType) * col("__sy")) /
          (lit(100.0) * (lit(n) * col("__sxx") -
            col("__sx").cast(DoubleType) * col("__sx"))))
      .withColumn("intercept",
        (col("__sy").cast(DoubleType) / lit(100.0) -
          col("slope") * col("__sx")) / lit(n))
      .drop("__rn", "__sx", "__sy", "__sxy", "__sxx")
  }

  /** Full-series rescaled-range (R/S) statistic per user — the building
    * block of a Hurst-exponent estimate (the exponent itself is the log-log
    * slope of this statistic across window scales; one scale is declared
    * here, the multi-scale sweep is its composition). The cumulative
    * deviation is kept EXACT by scaling out the mean's division:
    * D_k = n·cumsum_k − k·total (integer cents·n), so R_scaled = max−min is
    * exact and S² comes from the standard covPowerSums tree. One shuffle
    * (per-user sort) + one hash-agg; D_k products stay inside Long up to
    * ~1e6 rows/user at 5e4 cents (5e16 < 2⁶³). */
  private def tsHurstRs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val s2 = U.covPowerSums(col("syy"), col("sy"), col("sy"), col("nd"))
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("k", row_number().over(w).cast(LongType))
      .withColumn("n", count(lit(1)).over(full))
      .withColumn("dev",
        col("n") * sum(col("vc")).over(run) - col("k") * sum(col("vc")).over(full))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n"),
        (max(col("dev")) - min(col("dev"))).as("r_scaled"),
        count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("vc")).cast(DoubleType).as("sy"),
        sum(col("vc") * col("vc")).cast(DoubleType).as("syy"))
      .select(col("user_id"), col("n"), col("r_scaled"),
        s2.as("s2"),
        ((col("r_scaled").cast(DoubleType) / col("n") / lit(100.0)) /
          sqrt(nullif(s2, lit(0.0)))).as("rs"))
      .orderBy("user_id")
  }

  /** Order-3 permutation entropy per user (complexity/randomness probe of
    * an industrial signal): each consecutive value triple maps to one of 8
    * comparison patterns (a<b, b<c, a<c bits — ties fold deterministically
    * into the ≥ branches, identical both engines on exact cents), pattern
    * frequencies roll up per user, entropy sums the per-pattern terms in
    * floored integer MICRO-nats (the agg_entropy discipline: float-order
    * and libm drift cannot reach the hash). One shuffle + two hash-aggs. */
  private def tsPermEntropy(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = U.events(s, d)
      .withColumn("c", U.cents(col("value")))
      .withColumn("a", lag(col("c"), 2).over(w))
      .withColumn("b", lag(col("c"), 1).over(w))
      .filter(col("a").isNotNull)
      .withColumn("pat",
        (col("a") < col("b")).cast(LongType) * 4 +
          (col("b") < col("c")).cast(LongType) * 2 +
          (col("a") < col("c")).cast(LongType))
      .groupBy(col("user_id"), col("pat")).agg(count(lit(1)).as("cnt"))
    val tot = counts.groupBy(col("user_id").as("u")).agg(sum(col("cnt")).as("n"))
    counts.join(tot, col("user_id") === col("u"))
      .withColumn("term_micro",
        floor(col("cnt").cast(DoubleType) / col("n") *
          log(col("cnt").cast(DoubleType) / col("n")) * lit(-1000000.0))
          .cast(LongType))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_patterns"), max(col("n")).as("n_triples"),
        (sum(col("term_micro")).cast(DoubleType) / lit(1000000.0))
          .as("perm_entropy_nats"))
      .orderBy("user_id")
  }

  /** Burst detection per event type: maximal runs of >=3 CONSECUTIVE hours
    * each at least 4/3× the type's mean hourly rate — [[burstOn]] at
    * one-hour buckets. */
  private def tsBurst(s: SparkSession, d: String): DataFrame =
    burstOn(U.events(s, d), "event_type", "ts", 3600000000L, 4L, 3L, 3)
      .select(col("event_type"),
        timestamp_micros(col("__b0") * 3600000000L).as("burst_start"),
        timestamp_micros(col("__b1") * 3600000000L).as("burst_end"),
        col("n_buckets").as("n_hours"), col("n_events"))
      .orderBy("event_type", "burst_start")

  /** The burst kernel behind [[tsBurst]] and
    * [[graft.api.GraftApi.burstRuns]]: maximal runs of >= `minRun`
    * consecutive `bucketUs` buckets of `ts`, each at least num/den × the
    * `typeCol` value's mean bucket rate. The threshold compare is
    * exact-integer (den·n_b·n_buckets >= num·total — no division), runs
    * come from the gaps-islands trick on the bucket index. One hash-agg
    * to buckets, then per-type totals as a WINDOW over the `typeCol`
    * partitioning the islands pass needs anyway (r15, guide §2.4: a
    * groupBy + join re-aggregated the unpersisted bucket frame from a
    * second input scan; same exact sums/counts, one scan, one shared
    * exchange), then one rollup per island — everything after the first
    * aggregation is bucket-cardinality regardless of event volume.
    * Returns (typeCol, __b0, __b1, n_buckets, n_events) with the first
    * and last bucket index of each run. */
  private[graft] def burstOn(df: DataFrame, typeCol: String, ts: String,
      bucketUs: Long, num: Long, den: Long, minRun: Int): DataFrame = {
    require(bucketUs > 0 && num > 0 && den > 0 && minRun >= 1)
    val wt = Window.partitionBy(col(typeCol))
    val wr = Window.partitionBy(col(typeCol)).orderBy(col("__bidx"))
    df.groupBy(col(typeCol),
        expr(s"unix_micros($ts) DIV $bucketUs").as("__bidx"))
      .agg(count(lit(1)).as("__nb"))
      .withColumn("__s", sum(col("__nb")).over(wt))
      .withColumn("__c", count(lit(1)).over(wt))
      .filter(lit(den) * col("__nb") * col("__c") >= lit(num) * col("__s"))
      .withColumn("__grp", col("__bidx") - row_number().over(wr))
      .groupBy(col(typeCol), col("__grp"))
      .agg(min(col("__bidx")).as("__b0"), max(col("__bidx")).as("__b1"),
        count(lit(1)).as("n_buckets"), sum(col("__nb")).as("n_events"))
      .filter(col("n_buckets") >= minRun)
      .drop("__grp")
  }

  /** Peak concurrency per day over the 30-min-gap user sessions —
    * [[maxConcurrencyOn]] with the event_id tiebreak. */
  private def tsMaxConcurrency(s: SparkSession, d: String): DataFrame =
    maxConcurrencyOn(U.events(s, d), "user_id", "ts", Seq("event_id"),
        1800000000L)
      .orderBy("day")

  /** The peak-concurrency kernel behind [[tsMaxConcurrency]] and
    * [[graft.api.GraftApi.maxConcurrency]]: a sweep line over the
    * [[sessionizeOn]] sessions of (`key`, `ts`) — each session contributes
    * (+1 at start, −1 at end), starts order before ends at equal instants
    * (inclusive intervals), and the daily maximum of the running count is
    * the answer. The running sum is NOT one global sort: points are
    * blocked by day (per-day window), day baselines come from a prefix
    * over the ~|days| per-day delta totals — the sample_weighted
    * two-level scan-prefix shape, so the only single-partition pass
    * touches |days| rows. Day entry level counts sessions spanning
    * midnight (GREATEST with the baseline). Ties on (t, delta) cannot
    * disturb the max: each tied row adds the same delta, so the prefix
    * SET is order-independent. Returns (day, max_concurrent). */
  private[graft] def maxConcurrencyOn(df: DataFrame, key: String, ts: String,
      tiebreak: Seq[String], gapUs: Long): DataFrame = {
    val sess = sessionizeOn(df, key, ts, tiebreak, gapUs)
      .groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("__st"), max(col(ts)).as("__en"))
    val pts = sess.select(col("__st").as("__t"), lit(1L).as("__d"))
      .unionByName(sess.select(col("__en").as("__t"), lit(-1L).as("__d")))
      .withColumn("__day", date_trunc("DAY", col("__t")))
    val offs = pts.groupBy(col("__day").as("__od"))
      .agg(sum(col("__d")).as("__ds"))
      .withColumn("__off", coalesce(
        sum(col("__ds")).over(Window.orderBy(col("__od"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__od"), col("__off"))
    val wd = Window.partitionBy(col("__day"))
      .orderBy(col("__t"), col("__d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.withColumn("__rs", sum(col("__d")).over(wd))
      .groupBy(col("__day")).agg(max(col("__rs")).as("__peak"))
      .join(offs, col("__day") === col("__od"))
      .select(col("__day").as("day"),
        greatest(col("__off") + col("__peak"), col("__off"))
          .as("max_concurrent"))
  }

  /** Autocorrelation function of each type's hourly-total series at lags
    * 1..12 — the seasonality scan behind decompose/holt-winters period
    * choices ([[tsAutocorr]] is the per-user lag-1 spot check; this is the
    * full correlogram on the type-level grid). The hourly grid is
    * DENSIFIED (sequence+explode, zero-filled) so a lag means "one hour
    * later", not "next bucket with data"; deviations are scaled by n
    * (n·x − S — no mean division), so every product is exact in
    * Decimal(38,0), and the correlation is emitted in exact integer
    * MICRO-units via truncating integral division (1e6·num DIV den —
    * the probed DECIMAL DIV ↔ HUGEINT `//` bridge from emb_pca2; a
    * double ratio diverged 1 ULP at sf0.1 because DuckDB's
    * HUGEINT→DOUBLE cast double-rounds past 2^53). Everything
    * after the first hash-agg is bucket-cardinality: the lag pairing is a
    * 12-way explode + equi-join on (type, hidx+lag) over ≤ |hours| rows,
    * never the event stream. */
  private def tsAcfLags(s: SparkSession, d: String): DataFrame =
    acfMicroFrame(s, d)
      .select(col("event_type"), col("lag"), col("n_pairs"), col("acf_micro"))
      .orderBy("event_type", "lag")

  /** Ljung–Box portmanteau Q over the same 12-lag correlogram as
    * [[tsAcfLags]] — "is this hourly series white noise at all?" in one
    * number per type. Q = n(n+2)·Σₖ ρ̂ₖ²/(n−k) closes from the exact
    * integer acf_micro values: each lag's term is the truncating division
    * (n·(n+2)·acf_micro²) DIV ((n−k)·1e6) — identical integer ops in both
    * engines (n(n+2)·acf² overflows BIGINT past ~3000 grid hours, so the
    * product rides Decimal(38,0)) — and Q_micro is their exact sum. Adds
    * one |types|×12-row agg on top of the ACF plan: free at any scale. */
  private def tsLjungBox(s: SparkSession, d: String): DataFrame =
    acfMicroFrame(s, d)
      .select(col("event_type"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * (n + 2) * acf_micro * " +
          "acf_micro) DIV ((n - lag) * 1000000) AS BIGINT)").as("term"))
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), count(lit(1)).as("n_lags"),
        sum(col("term")).as("q_micro"))
      .orderBy("event_type")

  /** Two-level binary segmentation per event type over the densified
    * hourly grid — the hierarchical changepoint sweep ([[tsChangepoint]]
    * is the single-split per-user probe; this is the segment-then-recurse
    * step real changepoint detection iterates, run at type level where
    * the grid is bucket-cardinality). Scores stay UNNORMALIZED CUSUM
    * deviations |n·S₁(k) − k·S| — no division anywhere, every comparison
    * an exact Decimal(38,0) order, argmax tie-breaking on the earliest
    * split. Level 2 re-runs the same scan on each side with LOCAL prefix
    * sums (re-partitioned windows; the only join is the \|types\|-row
    * level-1 split broadcast). Sides too short to split (≤1 bucket) emit
    * NULL cuts identically in both engines. */
  private def tsBinseg(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) DIV 3600000000").as("hidx"))
      .agg(sum(col("vc")).as("xc"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), col("h0"),
        explode(sequence(col("h0"), col("h1"))).as("ghidx"))
    val dense = grid.join(hourly,
        col("et") === col("event_type") && col("ghidx") === col("hidx"),
        "left")
      .select(col("et").as("t"), (col("ghidx") - col("h0")).as("i"),
        coalesce(col("xc"), lit(0L)).as("x"))
    val wt = Window.partitionBy(col("t")).orderBy(col("i"))
    val wtu = Window.partitionBy(col("t"))
    val w2 = Window.partitionBy(col("t"))
      .orderBy(col("stat").desc, col("i"))
    val cp1 = dense
      .withColumn("st", sum(col("x")).over(wt))
      .withColumn("n", count(lit(1)).over(wtu))
      .withColumn("sn", sum(col("x")).over(wtu))
      .filter(col("i") < col("n") - 1)
      .withColumn("stat",
        abs((col("n") * col("st") - (col("i") + 1) * col("sn")).cast(dec)))
      .withColumn("rk", row_number().over(w2))
      .filter(col("rk") === 1)
      .select(col("t").as("ct"), col("n").as("cn"),
        (col("i") + 1).as("k1"), col("stat").as("stat1"))
    // cp1 is one row per event type — taxonomy-bounded broadcast
    val tagged = dense.join(broadcast(cp1), col("t") === col("ct"))
      .withColumn("seg", when(col("i") < col("k1"), lit("L")).otherwise(lit("R")))
    val ws = Window.partitionBy(col("t"), col("seg")).orderBy(col("i"))
    val wsu = Window.partitionBy(col("t"), col("seg"))
    val w3 = Window.partitionBy(col("t"), col("seg"))
      .orderBy(col("stat").desc, col("j"))
    val cp2 = tagged
      .withColumn("j", row_number().over(ws).cast(LongType))
      .withColumn("st2", sum(col("x")).over(ws))
      .withColumn("n2", count(lit(1)).over(wsu))
      .withColumn("s2", sum(col("x")).over(wsu))
      .filter(col("j") < col("n2"))
      .withColumn("stat",
        abs((col("n2") * col("st2") - col("j") * col("s2")).cast(dec)))
      .withColumn("rk", row_number().over(w3))
      .filter(col("rk") === 1)
      .select(col("t"), col("seg"), col("i").as("cut_i"),
        col("stat").cast(LongType).as("stat2"))
    cp1
      .join(cp2.filter(col("seg") === "L")
        .select(col("t").as("tl"), col("cut_i").as("cut_l"),
          col("stat2").as("stat_l")), col("ct") === col("tl"), "left")
      .join(cp2.filter(col("seg") === "R")
        .select(col("t").as("tr"), col("cut_i").as("cut_r"),
          col("stat2").as("stat_r")), col("ct") === col("tr"), "left")
      .select(col("ct").as("event_type"), col("cn").as("n"), col("k1"),
        col("stat1").cast(LongType).as("stat1"),
        col("cut_l"), col("stat_l"), col("cut_r"), col("stat_r"))
      .orderBy("event_type")
  }

  /** Time-weighted average value per user — each reading holds until the
    * NEXT one, so its weight is the exact integer-µs gap ([[tsVwap]] is
    * the volume-weighted sibling; this is the sensor/price convention
    * where sparse readings must not under-count their holding period).
    * The last reading per user carries no interval and drops, identically
    * in both engines. Products vc·Δµs reach ~1e17 per row → the weighted
    * sum rides Decimal(38,0)↔HUGEINT, and the TWAP ships in exact
    * micro-dollars via truncating division. One window pass + one
    * hash-agg. */
  private def tsTwap(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("nxt", lead(unix_micros(col("ts")), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dt", col("nxt") - unix_micros(col("ts")))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_segments"),
        sum(col("dt")).as("dur_us"),
        sum((col("vc") * col("dt")).cast(dec)).as("num"))
      .select(col("user_id"), col("n_segments"), col("dur_us"),
        expr("CAST((1000000 * num) DIV " +
          "(100 * CAST(dur_us AS DECIMAL(38,0))) AS BIGINT)")
          .as("twap_micro"))
      .orderBy("user_id")
  }

  /** Unnormalized Haar wavelet energies at three dyadic levels over each
    * type's DENSIFIED hourly-total grid — the multi-resolution variance
    * fingerprint ("is the volatility hourly, 2-hourly or 4-hourly?") that
    * a Fourier periodogram would answer with transcendental doubles and
    * therefore without an exact oracle. Haar needs only pairwise sums and
    * differences anchored to the grid start (i = hidx − h0, so pairing is
    * alignment-independent): level ℓ's detail d = Σ±(level ℓ−1 sums),
    * energy = Σd² — every value an exact integer, squares under
    * Decimal(38,0)↔HUGEINT. Odd tails fold as lone elements (x − 0),
    * identically in both engines. Three chained hash-aggs, each a HALVING
    * of the previous level's bucket frame — at 100 TB the cost after the
    * first hourly agg is bucket-cardinality, not event-cardinality. */
  private def tsHaarEnergy(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) DIV 3600000000").as("hidx"))
      .agg(sum(col("vc")).as("xc"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), col("h0"),
        explode(sequence(col("h0"), col("h1"))).as("ghidx"))
    val dense = grid.join(hourly,
        col("et") === col("event_type") && col("ghidx") === col("hidx"),
        "left")
      .select(col("et").as("t"), (col("ghidx") - col("h0")).as("i"),
        coalesce(col("xc"), lit(0L)).as("x"))
    def level(src: DataFrame): (DataFrame, DataFrame) = {
      val g = src.groupBy(col("t"), expr("i DIV 2").as("q"))
        .agg(sum(when(expr("i % 2 = 0"), col("x")).otherwise(-col("x")))
          .as("dd"),
          sum(col("x")).as("aa"))
      (g.select(col("t"), col("q").as("i"), col("aa").as("x")),
        g.groupBy(col("t"))
          .agg(sum((col("dd") * col("dd")).cast(dec)).as("e")))
    }
    val (a1, e1) = level(dense)
    val (a2, e2) = level(a1)
    val (_, e3) = level(a2)
    dense.groupBy(col("t")).agg(count(lit(1)).as("n"))
      .join(e1.select(col("t").as("t1"), col("e").cast(LongType).as("e1")),
        col("t") === col("t1"))
      .join(e2.select(col("t").as("t2"), col("e").cast(LongType).as("e2")),
        col("t") === col("t2"))
      .join(e3.select(col("t").as("t3"), col("e").cast(LongType).as("e3")),
        col("t") === col("t3"))
      .select(col("t").as("event_type"), col("n"),
        col("e1"), col("e2"), col("e3"))
      .orderBy("event_type")
  }

  /** The shared correlogram kernel behind [[tsAcfLags]] / [[tsLjungBox]]:
    * (event_type, lag 1..12, n_pairs, acf_micro, grid length n). */
  private def acfMicroFrame(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) DIV 3600000000").as("hidx"))
      .agg(sum(col("vc")).as("xc"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), explode(sequence(col("h0"), col("h1"))).as("ghidx"))
    val dense = grid.join(hourly,
        col("et") === col("event_type") && col("ghidx") === col("hidx"), "left")
      .select(col("et").as("t"), col("ghidx").as("hx"),
        coalesce(col("xc"), lit(0L)).as("x"))
    val stats = dense.groupBy(col("t").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("ssum"))
    val dn = dense.join(broadcast(stats), col("t") === col("st"))
      .select(col("t"), col("hx"),
        (col("n") * col("x") - col("ssum")).cast(dec).as("dev"),
        col("n"))
    val den = dn.groupBy(col("t").as("dt"))
      .agg(sum(col("dev") * col("dev")).as("den"), max(col("n")).as("n"))
    val lags = (1 to 12).map(l => lit(l.toLong))
    val pairs = dn.withColumn("lag", explode(array(lags: _*)))
      .select(col("t"), (col("hx") + col("lag")).as("phx"), col("lag"),
        col("dev").as("dev_a"))
      .join(dn.select(col("t").as("t2"), col("hx").as("hx2"),
        col("dev").as("dev_b")),
        col("t") === col("t2") && col("phx") === col("hx2"))
      .groupBy(col("t").as("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dev_a") * col("dev_b")).as("num"))
    pairs.join(broadcast(den), col("event_type") === col("dt"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        expr("CAST((1000000 * num) DIV den AS BIGINT)").as("acf_micro"),
        col("n"))
  }

  /** Inter-arrival statistics per user in exact integer microseconds: gap
    * count, min, DOUBLED median (the two middle gaps summed — stays
    * integral under even counts, both engines), discrete p90 (element at
    * ceil(0.9·n)), max. The ops-health fingerprint of a sensor feed. One
    * shuffle+sort per user; ranks and picks are all integer. */
  private def tsInterarrival(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wg = Window.partitionBy(col("user_id")).orderBy(col("g"))
    val full = wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    U.events(s, d)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("prev_us").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("ts")) - col("prev_us")).as("g"))
      .withColumn("rn", row_number().over(wg).cast(LongType))
      .withColumn("n", count(lit(1)).over(full))
      .groupBy(col("user_id"))
      .agg(max(col("n")).as("n_gaps"), min(col("g")).as("min_us"),
        sum(when(col("rn") === expr("(n + 1) DIV 2") ||
            col("rn") === expr("n DIV 2 + 1"),
          when(expr("n % 2 = 1"), col("g") * 2).otherwise(col("g")))
          .otherwise(lit(0L))).as("med_us_x2"),
        // discrete p90 WITHOUT floats: rank ceil(0.9n) = (9n + 9) DIV 10
        max(when(col("rn") === expr("(9 * n + 9) DIV 10"), col("g")))
          .as("p90_us"),
        max(col("g")).as("max_us"))
      .orderBy("user_id")
  }

  /** Average True Range per event type over DAILY OHLC bars — the
    * volatility gauge position-sizing rules threshold on. Each day's true
    * range max(high−low, |high−prevClose|, |low−prevClose|) is exact in
    * integer cents (first bar falls back to high−low, both engines), and
    * the 7-bar ATR is the one fragile double op: CAST(SUM) / COUNT over a
    * ROWS frame, mirrored verbatim in the oracle. Shape: one hash-agg
    * events→daily bars (day-cardinality, bounded by the time domain at any
    * SF), then a per-type window over ≤|days| rows — nothing downstream of
    * the first agg scales with event count. */
  private def tsAtr(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(max(col("vc")).as("high_c"), min(col("vc")).as("low_c"),
        max_by(col("vc"), struct(col("ts"), col("event_id"))).as("close_c"),
        count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val atrW = w.rowsBetween(-6, 0)
    daily
      .withColumn("prev_close", lag(col("close_c"), 1).over(w))
      .withColumn("tr_c",
        when(col("prev_close").isNull, col("high_c") - col("low_c"))
          .otherwise(greatest(col("high_c") - col("low_c"),
            abs(col("high_c") - col("prev_close")),
            abs(col("low_c") - col("prev_close")))))
      .select(col("event_type"), col("day"), col("n"), col("tr_c"),
        (sum(col("tr_c")).over(atrW).cast(DoubleType) /
          (lit(100.0) * count(lit(1)).over(atrW))).as("atr"))
      .orderBy("event_type", "day")
  }

  /** On-balance volume per event type: daily volume (event count) added
    * when the daily close rises, subtracted when it falls, flat on equal —
    * the classic accumulation/distribution proxy. Close and its lag are
    * exact cents, the signed cumulative sum is pure integers; same
    * day-bar shape as [[tsAtr]] (hash-agg to day cardinality, then a
    * bounded per-type window). */
  private def tsObv(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(max_by(col("vc"), struct(col("ts"), col("event_id"))).as("close_c"),
        count(lit(1)).as("vol"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("prev_close", lag(col("close_c"), 1).over(w))
      .withColumn("signed_vol",
        when(col("prev_close").isNull || col("close_c") === col("prev_close"), lit(0L))
          .when(col("close_c") > col("prev_close"), col("vol"))
          .otherwise(-col("vol")))
      .select(col("event_type"), col("day"), col("close_c"), col("vol"),
        sum(col("signed_vol")).over(w).as("obv"))
      .orderBy("event_type", "day")
  }

  /** Market beta per event type: each type's daily cents total regressed
    * on the pooled all-type daily total ("the market"). Power sums are
    * exact integers riding Decimal(38,0) (daily totals reach ~1e13 cents
    * at 100 TB, so their products clear Long), and beta/alpha/r² come from
    * one double tree mirrored in the oracle. The market frame is
    * day-cardinality — joined per-day after both sides have already been
    * hash-agged down from event cardinality, so the join is bounded by the
    * time domain, not the data volume. */
  private def tsBeta(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("vc")).as("xc"))
    // the market total as a WINDOW over the day partition (r15, guide
    // §2.4): the previous day-keyed groupBy + broadcast-join re-aggregated
    // the UNPERSISTED daily frame from a second full events scan; the
    // window form computes the identical per-day Long sum in one pass
    val ps = daily
      .withColumn("mc", sum(col("xc")).over(Window.partitionBy(col("day"))))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(DoubleType).as("nd"),
        sum(col("xc")).cast(DoubleType).as("sx"),
        sum(col("mc")).cast(DoubleType).as("sm"),
        sum((col("xc").cast(dec) * col("mc").cast(dec))).cast(DoubleType).as("sxm"),
        sum((col("mc").cast(dec) * col("mc").cast(dec))).cast(DoubleType).as("smm"),
        sum((col("xc").cast(dec) * col("xc").cast(dec))).cast(DoubleType).as("sxx"))
    val covXm = col("sxm") / col("nd") - (col("sx") / col("nd")) * (col("sm") / col("nd"))
    val varM = col("smm") / col("nd") - (col("sm") / col("nd")) * (col("sm") / col("nd"))
    val varX = col("sxx") / col("nd") - (col("sx") / col("nd")) * (col("sx") / col("nd"))
    ps.select(col("event_type"), col("nd").cast(LongType).as("n_days"),
        (covXm / varM).as("beta"),
        (col("sx") / col("nd") - (covXm / varM) * (col("sm") / col("nd"))).as("alpha_c"),
        (covXm * covXm / (varX * varM)).as("r2"))
      .orderBy("event_type")
  }

  /** Mann–Kendall trend test per event type over daily cents totals: the
    * S statistic Σ_{i<j} sgn(x_j − x_i), its tie-corrected variance kept
    * as the INTEGER 18·Var(S) = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5), and the
    * continuity-corrected z. Pairs come from a self-join of the daily
    * frame (day-cardinality² — bounded by the time domain, never by event
    * count; 3650 days is 6.7M pairs, trivially distributed). The only
    * doubles are the final z = (S∓1)/sqrt(var18/18), identical trees both
    * engines. */
  private def tsMannKendall(s: SparkSession, d: String): DataFrame = {
    val daily = U.track(U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(col("vc")).as("xc"))
      .persist())
    val a = daily.select(col("event_type").as("et"), col("day").as("d1"),
      col("xc").as("x1"))
    val b = daily.select(col("event_type").as("et2"), col("day").as("d2"),
      col("xc").as("x2"))
    val sStat = a.join(b, col("et") === col("et2") && col("d1") < col("d2"))
      .groupBy(col("et"))
      .agg(sum(signum(col("x2") - col("x1")).cast(LongType)).as("s_stat"))
    val ties = daily.groupBy(col("event_type"), col("xc"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"))
      .agg(sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tie_term"))
    ties.join(sStat, col("event_type") === col("et"))
      .withColumn("var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tie_term"))
      .select(col("event_type"), col("n").as("n_days"), col("s_stat"),
        col("var18"),
        when(col("s_stat") > 0,
            (col("s_stat") - lit(1)).cast(DoubleType) /
              sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + lit(1)).cast(DoubleType) /
              sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .otherwise(lit(0.0)).as("z"))
      .orderBy("event_type")
  }

  /** Partial autocorrelation at lags 1–3 per event type via the CLOSED
    * Durbin–Levinson forms over [[acfMicroFrame]]'s exact integer
    * micro-ACF — "is the hourly series AR(1) or does lag 2 carry its own
    * signal?", the model-order probe next to the correlogram. The r's are
    * exact micro integers divided once by 1e6 (value-identical doubles
    * both engines), and each φ tree is mirrored token-for-token. One
    * ≤|types|×12 pivot over the shared ACF plan — no extra scan. */
  private def tsPacf(s: SparkSession, d: String): DataFrame = {
    val piv = acfMicroFrame(s, d)
      .groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        max(when(col("lag") === 1, col("acf_micro"))).as("a1"),
        max(when(col("lag") === 2, col("acf_micro"))).as("a2"),
        max(when(col("lag") === 3, col("acf_micro"))).as("a3"))
    val r1 = col("a1") / lit(1000000.0)
    val r2 = col("a2") / lit(1000000.0)
    val r3 = col("a3") / lit(1000000.0)
    val p2 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val phi21 = r1 - p2 * r1
    piv.select(col("event_type"), col("n"), col("a1"), col("a2"), col("a3"),
        r1.as("pacf1"), p2.as("pacf2"),
        ((r3 - phi21 * r2 - p2 * r1) /
          (lit(1.0) - phi21 * r1 - p2 * r2)).as("pacf3"))
      .orderBy("event_type")
  }

  /** Event study around error days: for relative day offsets −3…+3 from
    * each (user, error-day) anchor, the pooled event count and exact mean
    * value — "does activity dip before failures and recover after?".
    * Both sides are hash-agged to DAY cardinality before the only join
    * (anchors × 7 constant offsets ⋈ daily totals on (user, day index)),
    * so nothing scales with raw event count. Day index is the integer
    * µs-epoch DIV — no date arithmetic to diverge between engines. */
  private def tsEventStudy(s: SparkSession, d: String): DataFrame = {
    val ev = U.events(s, d)
      .withColumn("dayi", expr("unix_micros(ts) DIV 86400000000"))
    val daily = ev.withColumn("vc", U.cents(col("value")))
      .groupBy(col("user_id"), col("dayi"))
      .agg(sum(col("vc")).as("sd"), count(lit(1)).as("nd"))
    val offs = array((-3 to 3).map(o => lit(o.toLong)): _*)
    val anchors = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("au"), col("dayi").as("aday")).distinct()
      .select(col("au"), col("aday"), explode(offs).as("off"))
      .withColumn("tday", col("aday") + col("off"))
    anchors.join(daily,
        col("au") === col("user_id") && col("tday") === col("dayi"))
      .groupBy(col("off"))
      .agg(count(lit(1)).as("n_cells"), sum(col("nd")).as("n_events"),
        (sum(col("sd")).cast(DoubleType) /
          (lit(100.0) * sum(col("nd")))).as("mean_value"))
      .orderBy("off")
  }

  /** Theil–Sen robust slope per event type over daily totals — the
    * outlier-immune trend estimate next to [[tsMannKendall]]'s
    * significance (same pairwise frame: day²-bounded, never
    * event-cardinality). Each pair's slope is the exact truncating
    * integer (1e6·Δy) DIV Δday in micro-cents/day, and the median is the
    * DOUBLED middle pick under a (slope, d1, d2) total order — the
    * agg_mad discipline, zero floats until one closing halving. */
  private def tsTheilSen(s: SparkSession, d: String): DataFrame = {
    val daily = U.track(U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(col("vc")).as("xc"))
      .persist())
    val a = daily.select(col("event_type").as("et"), col("dayi").as("d1"),
      col("xc").as("x1"))
    val b = daily.select(col("event_type").as("et2"), col("dayi").as("d2"),
      col("xc").as("x2"))
    val wg = Window.partitionBy(col("et"))
      .orderBy(col("sm"), col("d1"), col("d2"))
    val wn = Window.partitionBy(col("et"))
    a.join(b, col("et") === col("et2") && col("d1") < col("d2"))
      .withColumn("sm",
        // Δy rides Decimal(38,0): 1e6·Δy would wrap Long once daily
        // totals pass ~9e12 cents (well inside 100 TB territory)
        expr("CAST((1000000 * CAST(x2 - x1 AS DECIMAL(38,0))) " +
          "DIV (d2 - d1) AS BIGINT)"))
      .withColumn("rn", row_number().over(wg).cast(LongType))
      .withColumn("n", count(lit(1)).over(wn))
      .groupBy(col("et").as("event_type"))
      .agg(max(col("n")).as("n_pairs"),
        sum(when(col("rn") === expr("(n + 1) DIV 2") ||
            col("rn") === expr("n DIV 2 + 1"),
          when(expr("n % 2 = 1"), col("sm") * 2).otherwise(col("sm")))
          .otherwise(lit(0L))).as("med2_slope_micro"))
      .withColumn("slope_cents_per_day",
        col("med2_slope_micro").cast(DoubleType) / lit(2000000.0))
      .orderBy("event_type")
  }

  /** Granger-style lagged-predictor test between the click and purchase
    * hourly series, BOTH directions: does yesterday's x improve the
    * prediction of today's y beyond y's own lag? F = (RSS_r − RSS_f)·
    * (n−3)/RSS_f from the restricted (y~lag y) and full (y~lag y + lag x)
    * OLS fits — both closed-form Cramer solves over ONE set of exact
    * Decimal(38,0) power sums (the agg_ols_multi tree, reused verbatim;
    * the (n−1) covariance factors cancel in F). The densified hourly grid
    * is time-domain-bounded, so the single-partition lag window and the
    * two-direction union are constant-size at any SF. */
  private def tsGranger(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("vc", U.cents(col("value")))
      .groupBy(expr("unix_micros(date_trunc('HOUR', ts)) DIV 3600000000")
        .as("hidx"))
      .agg(sum(when(col("event_type") === "click", col("vc")).otherwise(0L))
        .as("xc"),
        sum(when(col("event_type") === "purchase", col("vc")).otherwise(0L))
          .as("yc"))
    val grid = hourly.groupBy().agg(min(col("hidx")).as("h0"),
        max(col("hidx")).as("h1"))
      .select(explode(sequence(col("h0"), col("h1"))).as("gh"))
    val w = Window.orderBy(col("gh"))
    val lagged = grid.join(hourly, col("gh") === col("hidx"), "left")
      .select(col("gh"), coalesce(col("xc"), lit(0L)).as("xv"),
        coalesce(col("yc"), lit(0L)).as("yv"))
      .withColumn("xl", lag(col("xv"), 1).over(w))
      .withColumn("yl", lag(col("yv"), 1).over(w))
      .filter(col("xl").isNotNull)
    val both = lagged.select(lit("click->purchase").as("direction"),
        col("yv").as("y"), col("yl").as("l"), col("xl").as("x"))
      .unionByName(lagged.select(lit("purchase->click").as("direction"),
        col("xv").as("y"), col("xl").as("l"), col("yl").as("x")))
    val ps = both.groupBy(col("direction")).agg(
      count(lit(1)).cast(DoubleType).as("nd"),
      sum(col("l")).cast(DoubleType).as("s1"),
      sum(col("x")).cast(DoubleType).as("s2"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("l").cast(dec) * col("l").cast(dec)).cast(DoubleType).as("s11"),
      sum(col("x").cast(dec) * col("x").cast(dec)).cast(DoubleType).as("s22"),
      sum(col("l").cast(dec) * col("x").cast(dec)).cast(DoubleType).as("s12"),
      sum(col("l").cast(dec) * col("y").cast(dec)).cast(DoubleType).as("s1y"),
      sum(col("x").cast(dec) * col("y").cast(dec)).cast(DoubleType).as("s2y"),
      sum(col("y").cast(dec) * col("y").cast(dec)).cast(DoubleType).as("syy"))
    val nd = col("nd")
    val c11 = U.covPowerSums(col("s11"), col("s1"), col("s1"), nd)
    val c22 = U.covPowerSums(col("s22"), col("s2"), col("s2"), nd)
    val c12 = U.covPowerSums(col("s12"), col("s1"), col("s2"), nd)
    val c1y = U.covPowerSums(col("s1y"), col("s1"), col("sy"), nd)
    val c2y = U.covPowerSums(col("s2y"), col("s2"), col("sy"), nd)
    val cyy = U.covPowerSums(col("syy"), col("sy"), col("sy"), nd)
    val det = c11 * c22 - c12 * c12
    val b1 = (c1y * c22 - c2y * c12) / det
    val b2 = (c2y * c11 - c1y * c12) / det
    val rssf = cyy - (b1 * c1y + b2 * c2y)
    val rssr = cyy - c1y * c1y / c11
    ps.select(col("direction"), nd.cast(LongType).as("n"),
        b1.as("b_lag_y"), b2.as("b_lag_x"),
        ((rssr - rssf) * (nd - lit(3.0)) / rssf).as("f_stat"))
      .orderBy("direction")
  }

  /** Dickey–Fuller stationarity probe per event type on the densified
    * hourly grid: Δy_t regressed on y_{t−1} — a unit root (β≈0, t≈0)
    * means shocks persist and the series needs differencing before any
    * AR modeling ([[tsGranger]]'s implicit assumption, tested). β, its
    * standard error and t all close from ONE set of exact Decimal(38,0)
    * power sums through the shared covariance tree; grid and lag window
    * are time-domain-bounded. */
  private def tsAdf(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(date_trunc('HOUR', ts)) DIV 3600000000").as("hidx"))
      .agg(sum(col("vc")).as("xc"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), explode(sequence(col("h0"), col("h1"))).as("gh"))
    val w = Window.partitionBy(col("et")).orderBy(col("gh"))
    val lagged = grid.join(hourly,
        col("et") === col("event_type") && col("gh") === col("hidx"), "left")
      .select(col("et"), col("gh"), coalesce(col("xc"), lit(0L)).as("y"))
      .withColumn("l", lag(col("y"), 1).over(w))
      .filter(col("l").isNotNull)
      .withColumn("dy", col("y") - col("l"))
    val ps = lagged.groupBy(col("et")).agg(
      count(lit(1)).cast(DoubleType).as("nd"),
      sum(col("l")).cast(DoubleType).as("sl"),
      sum(col("dy")).cast(DoubleType).as("sd"),
      sum(col("l").cast(dec) * col("l").cast(dec)).cast(DoubleType).as("sll"),
      sum(col("l").cast(dec) * col("dy").cast(dec)).cast(DoubleType).as("sld"),
      sum(col("dy").cast(dec) * col("dy").cast(dec)).cast(DoubleType).as("sdd"))
    val nd = col("nd")
    val cll = U.covPowerSums(col("sll"), col("sl"), col("sl"), nd)
    val cld = U.covPowerSums(col("sld"), col("sl"), col("sd"), nd)
    val cdd = U.covPowerSums(col("sdd"), col("sd"), col("sd"), nd)
    val beta = cld / cll
    val se2 = (cdd - cld * cld / cll) / ((nd - lit(2.0)) * cll)
    ps.select(col("et").as("event_type"), nd.cast(LongType).as("n"),
        beta.as("beta"), sqrt(se2).as("se"),
        (beta / sqrt(se2)).as("t_stat"))
      .orderBy("event_type")
  }

  /** Seasonal Mann–Kendall per event type: the [[tsMannKendall]] S
    * statistic computed WITHIN each hour-of-day season over (day, hod)
    * cell totals, then summed — trend detection that a daily cycle cannot
    * fake. Pair generation is (days² × 24)-bounded; everything integer
    * except the closing z, whose tree is the MK mirror. */
  private def tsSeasonalMk(s: SparkSession, d: String): DataFrame = {
    val cells = U.track(U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"),
        expr("(unix_micros(ts) DIV 3600000000) % 24").as("hod"))
      .agg(sum(col("vc")).as("xc"))
      .persist())
    val a = cells.select(col("event_type").as("et"), col("hod").as("h1"),
      col("dayi").as("d1"), col("xc").as("x1"))
    val b = cells.select(col("event_type").as("et2"), col("hod").as("h2"),
      col("dayi").as("d2"), col("xc").as("x2"))
    val sStat = a.join(b, col("et") === col("et2") && col("h1") === col("h2") &&
        col("d1") < col("d2"))
      .groupBy(col("et"))
      .agg(sum(signum(col("x2") - col("x1")).cast(LongType)).as("s_stat"))
    val ties = cells.groupBy(col("event_type"), col("hod"), col("xc"))
      .agg(count(lit(1)).as("t"))
      .groupBy(col("event_type"), col("hod"))
      .agg(sum(col("t")).as("n"),
        sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)).as("tt"))
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_cells"),
        sum(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) - col("tt"))
          .as("var18"))
    ties.join(sStat, col("event_type") === col("et"))
      .select(col("event_type"), col("n_cells"), col("s_stat"), col("var18"),
        when(col("s_stat") > 0,
            (col("s_stat") - lit(1)).cast(DoubleType) /
              sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .when(col("s_stat") < 0,
            (col("s_stat") + lit(1)).cast(DoubleType) /
              sqrt(col("var18").cast(DoubleType) / lit(18.0)))
          .otherwise(lit(0.0)).as("z"))
      .orderBy("event_type")
  }

  /** Western Electric control-chart (SPC) rule violations per event type —
    * the four classic SCADA alarm patterns: (1) one point beyond 3σ,
    * (2) 2-of-3 consecutive beyond 2σ on the same side, (3) 4-of-5 beyond
    * 1σ same side, (4) 8 consecutive on one side of the mean. Every σ
    * comparison is the integer cross-multiplication
    * D² ⋛ k²·(n·Σx² − (Σx)²) with D = n·x − Σx (Decimal(38,0): D² reaches
    * ~1e33 at 100 TB) — no division, no sqrt, no float anywhere; the
    * run-length rules are ROWS-frame sums of those exact flags. One
    * per-type stats broadcast + one window pass + one rollup. */
  private def tsSpcRules(s: SparkSession, d: String): DataFrame = {
    val stats = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type").as("st"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sx"),
        sum(col("vc").cast(DecimalType(38, 0)) *
          col("vc").cast(DecimalType(38, 0))).as("sxx"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val base = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .join(broadcast(stats), col("event_type") === col("st"))
      .withColumn("dd", expr(
        "CAST(n AS DECIMAL(38,0)) * vc - CAST(sx AS DECIMAL(38,0))"))
      .withColumn("vr", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))"))
      .withColumn("above", (col("dd") > 0).cast(LongType))
      .withColumn("below", (col("dd") < 0).cast(LongType))
      .withColumn("b1", (col("dd") * col("dd") > col("vr")).cast(LongType))
      .withColumn("b2", (col("dd") * col("dd") > lit(4) * col("vr")).cast(LongType))
      .withColumn("b3", (col("dd") * col("dd") > lit(9) * col("vr")).cast(LongType))
    val w3 = w.rowsBetween(-2, 0)
    val w5 = w.rowsBetween(-4, 0)
    val w8 = w.rowsBetween(-7, 0)
    base
      .withColumn("r1", col("b3"))
      .withColumn("r2",
        (sum(col("b2") * col("above")).over(w3) >= 2 ||
          sum(col("b2") * col("below")).over(w3) >= 2).cast(LongType))
      .withColumn("r3",
        (sum(col("b1") * col("above")).over(w5) >= 4 ||
          sum(col("b1") * col("below")).over(w5) >= 4).cast(LongType))
      .withColumn("r4",
        (sum(col("above")).over(w8) === 8 ||
          sum(col("below")).over(w8) === 8).cast(LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("r1")).as("rule1_beyond3s"),
        sum(col("r2")).as("rule2_2of3_beyond2s"),
        sum(col("r3")).as("rule3_4of5_beyond1s"),
        sum(col("r4")).as("rule4_8_same_side"))
      .orderBy("event_type")
  }

  /** Load-range counting per user series (the turning-point half of
    * rainflow fatigue analysis, the wind-turbine classic): keep the
    * strict direction-change extrema plus each series' endpoints, then
    * histogram the |Δ| between consecutive kept points into decade bins —
    * "how many small oscillations vs full swings did this sensor see?".
    * All integer: the turning-point test is the sign product
    * (x−prev)·(next−x) < 0 (≤3e9, Long-safe at the value domain), bins
    * are fixed CASE thresholds. Two window passes over the same per-user
    * sort + one small rollup. */
  private def tsRainflowRanges(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val kept = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("prev", lag(col("vc"), 1).over(w))
      .withColumn("nxt", lead(col("vc"), 1).over(w))
      .filter(col("prev").isNull || col("nxt").isNull ||
        (col("vc") - col("prev")) * (col("nxt") - col("vc")) < 0)
    val rng = kept
      .withColumn("pv", lag(col("vc"), 1).over(w))
      .filter(col("pv").isNotNull)
      .withColumn("range_c", abs(col("vc") - col("pv")))
    rng.withColumn("bin",
        when(col("range_c") === 0, 0L)
          .when(col("range_c") < 100, 1L)
          .when(col("range_c") < 1000, 2L)
          .when(col("range_c") < 10000, 3L)
          .otherwise(4L))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_ranges"), min(col("range_c")).as("min_c"),
        max(col("range_c")).as("max_c"))
      .orderBy("bin")
  }

  /** Wald–Wolfowitz runs test per event type: is the sequence of
    * above/below-median readings RANDOM, or does it cluster (sticky
    * sensor) / alternate (oscillation)? Sides come from the DOUBLED
    * median (2x ⋛ med2 — integral under even counts, the agg_mad
    * discipline; exact-median ties drop, standard for the test), the run
    * count is one lag pass, and only the closing (R−μ)/σ is a mirrored
    * double tree. One per-type median window + one ordered pass. */
  private def tsRunsTest(s: SparkSession, d: String): DataFrame = {
    val med2 = Aggregations.med2Of(U.events(s, d)
        .select(col("event_type"), U.cents(col("value")).as("vc")),
        "event_type", "vc", "med2")
      .select(col("event_type").as("mt"), col("med2"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val ps = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .join(broadcast(med2), col("event_type") === col("mt"))
      .filter(col("vc") * 2 =!= col("med2"))
      .withColumn("side", (col("vc") * 2 > col("med2")).cast(LongType))
      .withColumn("chg",
        when(lag(col("side"), 1).over(w).isNull ||
          lag(col("side"), 1).over(w) =!= col("side"), 1L).otherwise(0L))
      .groupBy(col("event_type"))
      .agg(sum(col("chg")).as("runs"), sum(col("side")).as("n1"),
        sum(lit(1L) - col("side")).as("n2"))
    val n1 = col("n1").cast(DoubleType); val n2 = col("n2").cast(DoubleType)
    val mu = lit(2.0) * n1 * n2 / (n1 + n2) + lit(1.0)
    val va = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      ((n1 + n2) * (n1 + n2) * (n1 + n2 - lit(1.0)))
    ps.select(col("event_type"), col("runs"), col("n1"), col("n2"),
        ((col("runs").cast(DoubleType) - mu) / sqrt(va)).as("z"))
      .orderBy("event_type")
  }

  /** Lo–MacKinlay variance ratio VR(5) per event type over the densified
    * daily-total series — a random walk has VR ≈ 1; VR < 1 means
    * mean-reversion, VR > 1 momentum (the market-efficiency probe next to
    * [[tsAdf]]'s unit root). Both horizons' differences come from ONE
    * window pass (lag 1 and lag 5 over the same per-type day grid);
    * power sums ride Decimal(38,0) like [[tsGranger]]'s, and the two
    * population variances + their ratio close in one mirrored double
    * tree. Grid is time-domain-bounded. */
  private def tsVarianceRatio(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val q = 5
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(col("vc")).as("xc"))
    val grid = daily.groupBy(col("event_type").as("et"))
      .agg(min(col("dayi")).as("d0"), max(col("dayi")).as("d1"))
      .select(col("et"), explode(sequence(col("d0"), col("d1"))).as("gd"))
    val w = Window.partitionBy(col("et")).orderBy(col("gd"))
    val lagged = grid.join(daily,
        col("et") === col("event_type") && col("gd") === col("dayi"), "left")
      .select(col("et"), col("gd"), coalesce(col("xc"), lit(0L)).as("x"))
      .withColumn("d1v", col("x") - lag(col("x"), 1).over(w))
      .withColumn("dqv", col("x") - lag(col("x"), q).over(w))
    val ps = lagged.groupBy(col("et")).agg(
      count(lit(1)).as("n_days"),
      count(col("d1v")).cast(DoubleType).as("n1"),
      sum(col("d1v")).cast(DoubleType).as("s1"),
      sum(col("d1v").cast(dec) * col("d1v").cast(dec)).cast(DoubleType)
        .as("q1"),
      count(col("dqv")).cast(DoubleType).as("nq"),
      sum(col("dqv")).cast(DoubleType).as("sq"),
      sum(col("dqv").cast(dec) * col("dqv").cast(dec)).cast(DoubleType)
        .as("qq"))
    val var1 = (col("q1") - col("s1") * col("s1") / col("n1")) / col("n1")
    val varq = (col("qq") - col("sq") * col("sq") / col("nq")) / col("nq")
    ps.select(col("et").as("event_type"), col("n_days"),
        col("n1").cast(LongType).as("n_diff1"),
        col("nq").cast(LongType).as("n_diffq"),
        var1.as("var1"), varq.as("varq"),
        (varq / (lit(q.toDouble) * var1)).as("vr"))
      .orderBy("event_type")
  }

  /** Pettitt changepoint test per event type over the observed daily
    * totals: the day k maximizing |U_k|, U_k = Σ_{i≤k, j>k} sgn(x_i−x_j)
    * — the nonparametric "when did the level shift" beside
    * [[tsBinseg]]'s CUSUM split. Day³ avoided by the exact recurrence
    * U_k = Σ_{m≤k} V_m with V_m = Σ_j sgn(x_m − x_j): one days²-bounded
    * pair frame, one per-day agg, one cumulative window. Everything is
    * integer until the closing significance, shipped in the LOG domain
    * (−6K²/(n³+n²), i.e. ln(p/2) of the classic approximation — exp()
    * 1-ULP-diverges between JVM and libm); the argmax tie-breaks to the
    * EARLIEST day via the max_by-struct idiom (lexicographic (|U|, −day)
    * max). */
  private def tsPettitt(s: SparkSession, d: String): DataFrame = {
    val daily = U.track(U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(col("vc")).as("xc"))
      .persist())
    val b = daily.select(col("event_type").as("et2"), col("dayi").as("d2"),
      col("xc").as("x2"))
    val vk = daily.join(b, col("event_type") === col("et2") &&
        col("dayi") =!= col("d2"))
      .groupBy(col("event_type"), col("dayi"))
      .agg(sum(signum(col("xc") - col("x2")).cast(LongType)).as("vk"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    vk.withColumn("u", sum(col("vk"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("nn", count(lit(1)).over(full))
      .filter(col("rn") < col("nn")) // U_n = 0 by construction; k < n
      .groupBy(col("event_type"))
      .agg(max(col("nn")).as("n_days"),
        max(struct(abs(col("u")).as("k"), (-col("dayi")).as("ng"))).as("m"))
      .select(col("event_type"), col("n_days"),
        (-col("m.ng")).as("cp_day"), col("m.k").as("k_stat"),
        // significance in LOG domain: p ≈ 2·exp(log_p_half). exp() itself
        // 1-ULP-diverges between the JVM and DuckDB's libm, so the
        // declared result stops at the exactly-mirrorable argument
        (lit(-6.0) * col("m.k").cast(DoubleType) * col("m.k") /
          (col("n_days").cast(DoubleType) * col("n_days") * col("n_days") +
            col("n_days").cast(DoubleType) * col("n_days")))
          .as("log_p_half"))
      .orderBy("event_type")
  }

  /** Hampel filter per user: each reading flagged when it sits more than
    * 3 scaled MADs from the trailing-7 rolling median — [[hampelOn]] with
    * the (ts, event_id) order. */
  private def tsHampel(s: SparkSession, d: String): DataFrame =
    hampelOn(U.events(s, d).withColumn("vc", U.cents(col("value"))),
        "user_id", Seq(col("ts"), col("event_id")), "vc", 7, 3.0)
      .select(col("user_id"), col("ts"), col("event_id"), col("vc"),
        col("med").as("med7"), col("mad").as("mad7"), col("is_outlier"))
      .orderBy("user_id", "ts", "event_id")

  /** The Hampel kernel behind [[tsHampel]] and
    * [[graft.api.GraftApi.hampelFilter]]: the robust spike detector that a
    * single outlier cannot drag (unlike a z-score whose mean and σ it
    * would inflate). Over each `key`'s rows in `order`, the trailing
    * `window`'s median and MAD of the exact-integer cents column `vc` are
    * EXACT order statistics of the sorted frame array (`window` is odd, so
    * both are single picks — no halving), and the verdict is the integer
    * cross-multiplication |x−med|·10⁴ > round(nMads·1.4826·10⁴)·mad (no
    * float anywhere). Appends `med`, `mad` and `is_outlier` to rows whose
    * frame is full. One window sort per key; the frame array is
    * constant-size. */
  private[graft] def hampelOn(df: DataFrame, key: String, order: Seq[Column],
      vc: String, window: Int, nMads: Double): DataFrame = {
    require(window >= 3 && window % 2 == 1, s"window must be odd >= 3")
    val w = Window.partitionBy(col(key)).orderBy(order: _*)
    val f = w.rowsBetween(-(window - 1), Window.currentRow)
    val mid = (window + 1) / 2
    val scale = math.round(nMads * 1.4826 * 10000)
    df.withColumn("__rn", row_number().over(w).cast(LongType))
      .withColumn("__win", sort_array(collect_list(col(vc)).over(f)))
      .filter(col("__rn") >= window)
      .withColumn("med", element_at(col("__win"), mid))
      .withColumn("mad", element_at(
        sort_array(transform(col("__win"), x => abs(x - col("med")))), mid))
      .withColumn("is_outlier",
        abs(col(vc) - col("med")) * 10000L > lit(scale) * col("mad"))
      .drop("__rn", "__win")
  }

  /** Tabular (decision-interval) CUSUM alarm per event type: the page-one
    * SPC recursion S⁺ᵢ = max(0, S⁺ᵢ₋₁ + x − μ − K) fired when S⁺ > H
    * (and the mirrored S⁻ for downward drifts) — catches small sustained
    * shifts the per-point [[tsSpcRules]] σ-bands miss. The recursion is
    * NOT window-expressible directly, but its closed form is: S⁺ᵢ =
    * cumᵢ − min(0, min_{j≤i} cumⱼ) over the deviation prefix sum — two
    * running windows, no recursion. μ never divides: everything runs
    * n-SCALED (d = n·(x−K) − Σx, threshold n·H) in Decimal(38,0), so the
    * alarm verdicts are exact integers at any scale. K = 5.00, H = 50.00
    * (cents). One |types|-row stats broadcast + one ordered pass. */
  private def tsCusumAlarm(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = U.events(s, d).withColumn("vc", U.cents(col("value")))
    val st = base.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sx"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hiN = col("n").cast(dec) * lit(5000L)
    val j = base.join(broadcast(st), col("event_type") === col("et"))
      .withColumn("dp",
        col("n").cast(dec) * (col("vc") - lit(500L)) - col("sx"))
      .withColumn("dm",
        col("sx").cast(dec) - col("n").cast(dec) * (col("vc") + lit(500L)))
      .withColumn("cp", sum(col("dp")).over(run))
      .withColumn("cm", sum(col("dm")).over(run))
      .withColumn("sp",
        col("cp") - least(lit(0L).cast(dec), min(col("cp")).over(run)))
      .withColumn("sm",
        col("cm") - least(lit(0L).cast(dec), min(col("cm")).over(run)))
    j.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"),
        sum(when(col("sp") > hiN, 1L).otherwise(0L)).as("n_alarms_high"),
        sum(when(col("sm") > hiN, 1L).otherwise(0L)).as("n_alarms_low"),
        min(when(col("sp") > hiN, unix_micros(col("ts")))).as("first_high_us"),
        min(when(col("sm") > hiN, unix_micros(col("ts")))).as("first_low_us"))
      .orderBy("event_type")
  }

  /** Engle–Granger cointegration probe, click → purchase daily totals:
    * step 1 regresses y on x (closed OLS over exact power sums); step 2
    * runs the no-constant Dickey–Fuller on the RESIDUAL series — but the
    * residuals never materialize: every residual sum (Σeₜe₋, Σe₋², Σe²)
    * expands algebraically into the exact lag-paired integer sums
    * (Σyyl, Σyxl, Σxyl, Σxxl, …) with a/b coefficients, so the only
    * doubles are one mirrored closing tree. β < 0 with a large |t| means
    * the spread mean-reverts — the pairs-trading/equilibrium test that
    * [[tsGranger]] (prediction) and [[tsAdf]] (single series) cannot
    * answer. One window pass + two 1-row aggs; grid time-domain-bounded.
    * Double casts of the Decimal sums stay < 2⁵³ through sf-scale daily
    * totals (~7e14 at sf0.1); the [[tsAdf]] headroom note applies. */
  private def tsCointegration(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = U.events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("vc", U.cents(col("value")))
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(when(col("event_type") === "click", col("vc")).otherwise(0L))
          .as("xc"),
        sum(when(col("event_type") === "purchase", col("vc")).otherwise(0L))
          .as("yc"))
    val grid = daily.groupBy()
      .agg(min(col("dayi")).as("d0"), max(col("dayi")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("gd"))
    val w = Window.orderBy(col("gd"))
    val filled = U.track(grid.join(daily, col("gd") === col("dayi"), "left")
      .select(col("gd"), coalesce(col("xc"), lit(0L)).as("x"),
        coalesce(col("yc"), lit(0L)).as("y")).persist())
    val ps1 = filled.groupBy().agg(
      count(lit(1)).cast(DoubleType).as("n"),
      sum(col("x")).cast(DoubleType).as("sx"),
      sum(col("y")).cast(DoubleType).as("sy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).cast(DoubleType).as("sxx"),
      sum(col("x").cast(dec) * col("y").cast(dec)).cast(DoubleType).as("sxy"))
    val lagged = filled
      .withColumn("xl", lag(col("x"), 1).over(w))
      .withColumn("yl", lag(col("y"), 1).over(w))
      .filter(col("xl").isNotNull)
    def p(a: String, b: String) =
      sum(col(a).cast(dec) * col(b).cast(dec)).cast(DoubleType)
    val ps2 = lagged.groupBy().agg(
      count(lit(1)).cast(DoubleType).as("m"),
      sum(col("x")).cast(DoubleType).as("sx1"),
      sum(col("y")).cast(DoubleType).as("sy1"),
      sum(col("xl")).cast(DoubleType).as("sxl"),
      sum(col("yl")).cast(DoubleType).as("syl"),
      p("x", "x").as("sxx1"), p("y", "y").as("syy1"),
      p("xl", "xl").as("sxlxl"), p("yl", "yl").as("sylyl"),
      p("x", "y").as("sxy1"), p("xl", "yl").as("sxlyl"),
      p("y", "yl").as("syyl"), p("y", "xl").as("syxl"),
      p("x", "yl").as("sxyl"), p("x", "xl").as("sxxl"))
    val b = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    val a = (col("sy") - b * col("sx")) / col("n")
    val m = col("m")
    val seeL = col("syyl") - a * (col("sy1") + col("syl")) + a * a * m -
      b * (col("syxl") + col("sxyl")) + a * b * (col("sx1") + col("sxl")) +
      b * b * col("sxxl")
    val sll = col("sylyl") - lit(2.0) * a * col("syl") + a * a * m -
      lit(2.0) * b * col("sxlyl") + lit(2.0) * a * b * col("sxl") +
      b * b * col("sxlxl")
    val scc = col("syy1") - lit(2.0) * a * col("sy1") + a * a * m -
      lit(2.0) * b * col("sxy1") + lit(2.0) * a * b * col("sx1") +
      b * b * col("sxx1")
    val beta = (seeL - sll) / sll
    val rss = (scc - lit(2.0) * seeL + sll) - beta * (seeL - sll)
    val se = sqrt(rss / (m - lit(1.0)) / sll)
    ps1.crossJoin(broadcast(ps2))
      .select(col("n").cast(LongType).as("n_days"),
        m.cast(LongType).as("n_pairs"), b.as("b_coint"), a.as("a_coint"),
        beta.as("beta_adf"), (beta / se).as("t_adf"))
  }

  /** Durbin–Watson statistic per event type on the time-ordered value
    * series: DW = ΣΔ²/Σ(x−x̄)² ≈ 2(1−ρ₁) — the classic one-number
    * autocorrelation screen (≈2 independent, →0 positively sticky, →4
    * alternating; the single-lag decision companion of [[tsAcfLags]]'
    * full correlogram). FULLY integer: ΣΔ² from one lag pass, the
    * centered denominator as n·Σx² − (Σx)², DW in exact micro-units via
    * the DECIMAL DIV bridge. One window sort + one hash-agg. */
  private def tsDurbinWatson(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val lagged = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("xl", lag(col("vc"), 1).over(w))
    lagged.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        sum(col("vc")).as("sx"),
        sum((col("vc") * col("vc")).cast(dec)).as("sxx"),
        sum(when(col("xl").isNotNull,
          ((col("vc") - col("xl")) * (col("vc") - col("xl"))).cast(dec)))
          .as("sd2"))
      .select(col("event_type"), col("n"),
        expr("CAST((1000000 * CAST(n AS DECIMAL(38,0)) * sd2) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)").as("dw_micro"))
      .orderBy("event_type")
  }

  /** Per-user FEATURE BUNDLE — the tsfresh-style "turn every series into
    * one ML feature row" extractor that downstream model training joins
    * against labels: n, exact cent extremes/total, mean, variance, the
    * Durbin–Watson autocorrelation screen, mean-crossing count and the
    * longest above-mean run, all in ONE user-keyed exchange (every
    * window shares the same partitioning, so Catalyst reuses the sort;
    * the run-length rollup re-keys (user, grp) but its input is already
    * user-clustered). Exactness: crossings and runs compare in the
    * n-SCALED integer domain (n·x ⋛ Σx — the mean never divides; the
    * sign product rides Decimal(38,0) since (n·x−S)² passes 2⁶³);
    * variance and DW guard their n < 2 / zero-variance degenerate cases
    * to NULL identically in both engines. */
  private def tsFeatures(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val full = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val base = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("nn", count(lit(1)).over(full))
      .withColumn("ss", sum(col("vc")).over(full))
      .withColumn("xl", lag(col("vc"), 1).over(w))
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("above", col("nn") * col("vc") > col("ss"))
    val feats = base.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      sum(col("vc")).as("sum_c"),
      min(col("vc")).as("min_c"), max(col("vc")).as("max_c"),
      (sum(col("vc")).cast(DoubleType) / (lit(100.0) * count(lit(1))))
        .as("mean"),
      sum((col("vc") * col("vc")).cast(dec)).as("sxx"),
      sum(when(col("xl").isNotNull,
        ((col("vc") - col("xl")) * (col("vc") - col("xl"))).cast(dec)))
        .as("sd2"),
      sum(when(col("xl").isNotNull &&
          (col("nn") * col("vc") - col("ss")).cast(dec) *
            (col("nn") * col("xl") - col("ss")) < 0, 1L).otherwise(0L))
        .as("n_mean_crossings"))
    val wa = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val runs = base.filter(col("above"))
      .withColumn("rn2", row_number().over(wa).cast(LongType))
      .groupBy(col("user_id").as("ru"), (col("rn") - col("rn2")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("ru")).agg(max(col("len")).as("longest_above_run"))
    feats.join(runs, col("user_id") === col("ru"), "left")
      .select(col("user_id"), col("n"), col("sum_c"), col("min_c"),
        col("max_c"), col("mean"),
        expr("CASE WHEN n >= 2 THEN " +
          "(CAST(sxx AS DOUBLE) / 10000.0 - (CAST(sum_c AS DOUBLE) / " +
          "100.0) * (CAST(sum_c AS DOUBLE) / 100.0) / n) / (n - 1.0) " +
          "END").as("variance"),
        expr("CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sum_c AS DECIMAL(38,0)) * sum_c <> 0 THEN " +
          "CAST((1000000 * CAST(n AS DECIMAL(38,0)) * sd2) DIV " +
          "(CAST(n AS DECIMAL(38,0)) * sxx - " +
          "CAST(sum_c AS DECIMAL(38,0)) * sum_c) AS BIGINT) END")
          .as("dw_micro"),
        col("n_mean_crossings"),
        coalesce(col("longest_above_run"), lit(0L))
          .as("longest_above_run"))
      .orderBy("user_id")
  }

  /** Record statistics per event type: how many running-record highs does
    * the value sequence set, and when was the last one? Under
    * exchangeability E[records] ≈ ln n + γ, so a record count far above
    * that is direct evidence of upward drift — a one-number probe that
    * needs no distributional assumptions at all (the classic flood-peak /
    * record-temperature analysis). A record = strictly above the running
    * max of all PREDECESSORS (ties don't count, standard); one window
    * pass, exact integers throughout. */
  private def tsRecordHighs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("pmax", max(col("vc")).over(prior))
      .withColumn("is_rec",
        (col("pmax").isNull || col("vc") > col("pmax")).cast(LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("is_rec")).as("n_records"),
        max(when(col("is_rec") === 1L, unix_micros(col("ts"))))
          .as("last_record_us"),
        max(col("vc")).as("record_value"))
      .orderBy("event_type")
  }

  /** Walk-forward SMA-crossover backtest per event type over the daily
    * closes: hold when yesterday's SMA5 > SMA20 (signal LAGS one day —
    * no lookahead), score as summed daily log returns against
    * buy-and-hold over the same evaluation window — the "did the signal
    * beat doing nothing" loop every quant strategy starts from
    * ([[tsSmaCross]] finds the cross points; this prices them). Exact:
    * the SMA compare is the integer cross-multiplication 4·Σ₅ ⋛ Σ₂₀,
    * each day's ln(cₜ/cₜ₋₁) has an exact integer argument and is
    * MICRO-FLOORED before either sum. One daily hash-agg + one ordered
    * window pass; day-cardinality everywhere after the first agg. */
  private def tsBacktestSma(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(max_by(col("vc"), struct(col("ts"), col("event_id")))
        .as("close_c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
    val f5 = w.rowsBetween(-4, 0)
    val f20 = w.rowsBetween(-19, 0)
    daily
      .withColumn("rn", row_number().over(w).cast(LongType))
      .withColumn("s5", sum(col("close_c")).over(f5))
      .withColumn("s20", sum(col("close_c")).over(f20))
      .withColumn("sig",
        (col("rn") >= 20 && lit(4L) * col("s5") > col("s20"))
          .cast(LongType))
      .withColumn("held", lag(col("sig"), 1).over(w))
      .withColumn("prev_c", lag(col("close_c"), 1).over(w))
      .filter(col("rn") > 20)
      .withColumn("lr_micro", floor(lit(1000000.0) *
        log(col("close_c").cast(DoubleType) / col("prev_c")))
        .cast(LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("held")).as("n_held"),
        sum(when(col("held") === 1L, col("lr_micro")).otherwise(0L))
          .as("strat_logret_micro"),
        sum(col("lr_micro")).as("bh_logret_micro"))
      .orderBy("event_type")
  }

  /** OEE — overall equipment effectiveness per user/machine, the
    * industrial KPI: availability (30-min-gap sessionized active time
    * over the observation span) × performance (event rate vs the fleet
    * rate, capped at 1) × quality (non-error share). Every factor is an
    * exact integer cross-multiplication in micro-units (the fleet-rate
    * compare rides Decimal(38,0)); the composite truncates once per
    * factor, identically in both engines. One ordered pass for
    * sessions, one |users| rollup, one 1-row fleet broadcast. Users
    * with n < 2 (no measurable span) are excluded. */
  private def tsOee(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val base = U.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .withColumn("gap",
        when(col("prev").isNotNull && col("us") - col("prev") <= 1800000000L,
          col("us") - col("prev")).otherwise(lit(0L)))
    val perUser = base.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L))
          .as("n_err"),
        (max(col("us")) - min(col("us"))).as("span_us"),
        sum(col("gap")).as("active_us"))
      .filter(col("n") >= 2 && col("span_us") > 0 && col("active_us") > 0)
    val fleet = perUser.groupBy()
      .agg(sum(col("n")).as("fn"), sum(col("active_us")).as("fa"))
    perUser.crossJoin(broadcast(fleet))
      .withColumn("avail_micro",
        expr("(1000000 * active_us) DIV span_us"))
      .withColumn("perf_micro", least(lit(1000000L),
        expr("CAST((1000000 * CAST(n AS DECIMAL(38,0)) * fa) DIV " +
          "(CAST(active_us AS DECIMAL(38,0)) * fn) AS BIGINT)")))
      .withColumn("qual_micro", expr("(1000000 * (n - n_err)) DIV n"))
      .select(col("user_id"), col("n"), col("avail_micro"),
        col("perf_micro"), col("qual_micro"),
        expr("(((avail_micro * perf_micro) DIV 1000000) * qual_micro) " +
          "DIV 1000000").as("oee_micro"))
      .orderBy("user_id")
  }

  /** Calendar (day-of-week) effects on value: per-dow exact mean against
    * the grand mean — the retail/ops seasonal screen behind "are Mondays
    * really different" ([[tsHeatmapBins]] shows the raw grid; this
    * quantifies each day's lift). Dow from pure epoch integer arithmetic
    * (no engine calendar conventions); both means ride the exact davg
    * tree and the effect is their mirrored difference. One conditional
    * hash-agg + a 1-row grand total. */
  private def tsCalendarEffects(s: SparkSession, d: String): DataFrame = {
    val byDow = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("dow", expr("((unix_micros(ts) DIV 86400000000) + 4) % 7"))
      .groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sx"))
    val tot = byDow.groupBy()
      .agg(sum(col("n")).as("nt"), sum(col("sx")).as("st"))
    byDow.crossJoin(broadcast(tot))
      .select(col("dow"), col("n"),
        (col("sx").cast(DoubleType) / (lit(100.0) * col("n"))).as("mean"),
        (col("st").cast(DoubleType) / (lit(100.0) * col("nt")))
          .as("grand_mean"),
        (col("sx").cast(DoubleType) / (lit(100.0) * col("n")) -
          col("st").cast(DoubleType) / (lit(100.0) * col("nt")))
          .as("effect"))
      .orderBy("dow")
  }

  /** Peaks-over-threshold per event type: exceedances over the exact
    * per-type P95 (ceil-rank order statistic from the VALUE DOMAIN),
    * declustered by the standard 1-hour-gap rule ([[sessionizeOn]]) —
    * cluster count, mean excess (the GPD-scale proxy) and the biggest
    * cluster, i.e. the extreme-value workup one rung past
    * [[aggHillTail]]'s tail index.
    * The threshold pick is the integer cross-multiplication 20·cum ≥
    * 19·n; exceedance clusters are gaps-islands on the filtered stream;
    * mean excess closes in exact micro-cents via DECIMAL DIV. */
  private def tsPotExceedance(s: SparkSession, d: String): DataFrame = {
    val cnt = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type").as("et2"), col("vc"))
      .agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("et2")).orderBy(col("vc"))
    val thr = cnt.withColumn("cum", sum(col("c")).over(wv))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("et2"))))
      .filter(col("cum") * 20 >= col("n") * 19)
      .groupBy(col("et2")).agg(min(col("vc")).as("u_c"))
    val exc = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .join(broadcast(thr), col("event_type") === col("et2"))
      .filter(col("vc") > col("u_c"))
    val clusters = sessionizeOn(exc, "event_type", "ts", Seq("event_id"),
        3600000000L)
      .groupBy(col("event_type"), col("session_id"))
      .agg(count(lit(1)).as("csize"))
    exc.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_exceed"), max(col("u_c")).as("u_c"),
        sum(col("vc") - col("u_c")).as("sum_excess_c"))
      .join(clusters.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_clusters"), max(col("csize"))
          .as("max_cluster")), Seq("event_type"))
      .select(col("event_type"), col("u_c"), col("n_exceed"),
        col("n_clusters"), col("max_cluster"),
        expr("CAST((1000000 * CAST(sum_excess_c AS DECIMAL(38,0))) DIV " +
          "n_exceed AS BIGINT)").as("mean_excess_microcents"))
      .orderBy("event_type")
  }

  /** Data-completeness report per event type on the densified hourly
    * grid: covered-hour share and the LONGEST OUTAGE (consecutive empty
    * hours) — the ingestion-SLA summary an ops review reads before
    * trusting any downstream aggregate ([[tsGapDetect]] lists per-user
    * gaps; this scores the feed). Coverage in exact micro-units; the
    * outage run comes from gaps-islands on the empty-hour index. */
  private def tsCompleteness(s: SparkSession, d: String): DataFrame = {
    val hourly = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hidx"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), explode(sequence(col("h0"), col("h1"))).as("gh"))
    val dense = grid.join(hourly,
        col("et") === col("event_type") && col("gh") === col("hidx"), "left")
      .select(col("et"), col("gh"), coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.partitionBy(col("et")).orderBy(col("gh"))
    val outage = dense.filter(col("c") === 0L)
      .withColumn("rn", row_number().over(w).cast(LongType))
      .groupBy(col("et").as("et2"), (col("gh") - col("rn")).as("grp"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("et2")).agg(max(col("len")).as("longest_outage_h"))
    dense.groupBy(col("et"))
      .agg(count(lit(1)).as("n_hours"),
        sum(when(col("c") > 0L, 1L).otherwise(0L)).as("covered_hours"))
      .join(outage, col("et") === col("et2"), "left")
      .select(col("et").as("event_type"), col("n_hours"),
        col("covered_hours"),
        expr("(1000000 * covered_hours) DIV n_hours")
          .as("completeness_micro"),
        coalesce(col("longest_outage_h"), lit(0L)).as("longest_outage_h"))
      .orderBy("event_type")
  }

  /** Poisson overdispersion check per event type: the dispersion χ² =
    * Σ(c−c̄)²/c̄ over densified hourly counts — ≈ df for a Poisson
    * process, far above it for bursty/clumped streams (the one-number
    * "is this stream actually Poisson" gate before any rate-based
    * alert assumes it; [[tsBurst]] then finds WHERE the clumps are).
    * FULLY integer: χ² = (n·Σc² − (Σc)²)/Σc closes in exact
    * micro-units via the DECIMAL DIV bridge. */
  private def tsDispersion(s: SparkSession, d: String): DataFrame = {
    val hourly = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 3600000000").as("hidx"))
      .agg(count(lit(1)).as("c"))
    val grid = hourly.groupBy(col("event_type").as("et"))
      .agg(min(col("hidx")).as("h0"), max(col("hidx")).as("h1"))
      .select(col("et"), explode(sequence(col("h0"), col("h1"))).as("gh"))
    grid.join(hourly,
        col("et") === col("event_type") && col("gh") === col("hidx"), "left")
      .select(col("et"), coalesce(col("c"), lit(0L)).as("c"))
      .groupBy(col("et"))
      .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("total"),
        sum((col("c") * col("c")).cast(DecimalType(38, 0))).as("scc"))
      .select(col("et").as("event_type"), col("n_hours"), col("total"),
        (col("n_hours") - 1L).as("df"),
        expr("CAST((1000000 * (CAST(n_hours AS DECIMAL(38,0)) * scc - " +
          "CAST(total AS DECIMAL(38,0)) * total)) DIV " +
          "CAST(total AS DECIMAL(38,0)) AS BIGINT)").as("chi2_micro"))
      .orderBy("event_type")
  }

  /** Turning-point randomness test per user: count interior points that
    * are strict local maxima or minima of the (ts, event_id)-ordered value
    * series. For an i.i.d. series E[T] = 2(n−2)/3 and Var[T] =
    * (16n−29)/90 — too few turns means trend/stickiness, too many means
    * oscillation (the cheap cousin of [[tsRunsTest]], sensitive to local
    * shape where runs are sensitive to level). Counts and the expected
    * value in micro-units are exact integers (strict inequalities make
    * plateaus contribute nothing, deterministically); only the closing z
    * is a mirrored double tree. One window pass + one rollup. */
  private def tsTurningPoints(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ps = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("prev", lag(col("vc"), 1).over(w))
      .withColumn("nxt", lead(col("vc"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("prev").isNotNull && col("nxt").isNotNull &&
          (col("vc") - col("prev")) * (col("nxt") - col("vc")) < 0, 1L)
          .otherwise(0L)).as("n_turning"))
    val nd = col("n").cast(DoubleType)
    ps.select(col("user_id"), col("n"), col("n_turning"),
        expr("(2000000 * (n - 2)) DIV 3").as("expected_micro"),
        ((col("n_turning").cast(DoubleType) -
          lit(2.0) * (nd - lit(2.0)) / lit(3.0)) /
          sqrt((lit(16.0) * nd - lit(29.0)) / lit(90.0))).as("z"))
      .orderBy("user_id")
  }

  /** Bartels rank version of von Neumann's ratio per user — the
    * nonparametric successive-difference randomness test ([[tsRunsTest]]
    * dichotomizes at the median and loses magnitude; this keeps full rank
    * information). Ranks are DOUBLED midranks (2·min_rank + ties − 1, so
    * ties stay integral), hence NM = Σ(r2ᵢ₊₁ − r2ᵢ)² and the centering
    * D = Σr2ᵢ² − n(n+1)² (mean of r2 is exactly n+1) are exact Longs
    * (≤16n³ — Long-safe to ~8e5 rows/user); the ×1e6 micro numerator
    * would wrap Long at only ~13k rows/user, so it routes through
    * DECIMAL(38,0) (the [[aggKruskal]] discipline) before the integral
    * division. RVN ≈ 2 is random; → 0 trending; → 4
    * oscillating. Two window passes, one rollup. */
  private def tsVnRank(s: SparkSession, d: String): DataFrame = {
    val wr = Window.partitionBy(col("user_id")).orderBy(col("vc"))
    val wt = Window.partitionBy(col("user_id"), col("vc"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("r2", lit(2L) * rank().over(wr).cast(LongType) +
        count(lit(1)).over(wt) - 1L)
      .withColumn("dr", col("r2") - lag(col("r2"), 1).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("dr") * col("dr")).as("nm2"),
        sum(col("r2") * col("r2")).as("ss2"))
      .select(col("user_id"), col("n"), col("nm2"),
        (col("ss2") - col("n") * (col("n") + 1L) * (col("n") + 1L)).as("d2"),
        expr("(1000000 * CAST(nm2 AS DECIMAL(38,0))) DIV " +
          "nullif(ss2 - n * (n + 1) * (n + 1), 0)").as("rvn_micro"))
      .orderBy("user_id")
  }

  /** Process capability Cpk per event type against fixed spec limits
    * (LSL = 0.00, USL = 300.00 — the SPC acceptance number next to
    * [[tsSpcRules]]' violation runs): min(USL−μ, μ−LSL)/3σ with
    * population σ from the same exact cent power sums every *_rs/Granger
    * query rides; the out-of-spec count is a plain exact integer. A
    * process can be in control (SPC rules quiet) and still incapable
    * (Cpk < 1) — the two queries answer different questions. */
  private def tsCpk(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val (lslC, uslC) = (0L, 30000L)
    val ps = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("vc").cast(dec)).as("sx"),
        sum(col("vc").cast(dec) * col("vc")).as("sxx"),
        sum(when(col("vc") < lslC || col("vc") > uslC, 1L).otherwise(0L))
          .as("n_out"))
    val nd = col("n").cast(DoubleType)
    val mu = col("sx").cast(DoubleType) / nd
    val sd = sqrt(col("sxx").cast(DoubleType) / nd - mu * mu)
    ps.select(col("event_type"), col("n"), col("n_out"),
        (least(lit(uslC.toDouble) - mu, mu - lit(lslC.toDouble)) /
          (lit(3.0) * sd)).as("cpk"))
      .orderBy("event_type")
  }

  /** Foster–Stuart records test per user: strict upper and lower records
    * of the (ts, event_id)-ordered series — D = (#up − #lo) detects trend
    * in LEVEL, S = (#up + #lo) detects trend in VARIABILITY (a stationary
    * series grows records only logarithmically; [[tsRecordHighs]] lists
    * the upper records, this scores both tails). Fully integer — records
    * are strict prefix-extremum comparisons, no distributional closing
    * stat (its variance is a float harmonic sum whose accumulation order
    * is engine-specific; the exact counts ARE the test surface). One
    * window pass + one rollup. */
  private def tsFosterStuart(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("pmax", max(col("vc")).over(prior))
      .withColumn("pmin", min(col("vc")).over(prior))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("pmax").isNotNull && col("vc") > col("pmax"), 1L)
          .otherwise(0L)).as("n_up_records"),
        sum(when(col("pmin").isNotNull && col("vc") < col("pmin"), 1L)
          .otherwise(0L)).as("n_lo_records"))
      .select(col("user_id"), col("n"), col("n_up_records"),
        col("n_lo_records"),
        (col("n_up_records") - col("n_lo_records")).as("d_stat"),
        (col("n_up_records") + col("n_lo_records")).as("s_stat"))
      .orderBy("user_id")
  }

  /** Per-user survival frame — time-to-first-ERROR with right censoring:
    * entry day fd (first event), death day = first 'error' day (NULL if
    * never errored — censored at the last observed day instead), exit =
    * whichever applies, cohort grp = the id-parity experiment arm (the
    * hash-based treatment assignment an A/B rollout actually uses —
    * deterministic, balanced, outcome-independent by construction).
    * The ONE lifetime definition [[tsKaplanMeier]] and
    * [[graft.operators.Aggregations]]' agg_log_rank both build on, so
    * the curve and the test that compares it cannot drift. One per-user
    * hash agg; left truncation (mid-span entry) rides fd, censoring
    * rides died=0 — both handled, not discarded. */
  private[operators] def survivalLife(s: SparkSession, d: String): DataFrame =
    U.events(s, d)
      .withColumn("dayi", expr("unix_micros(ts) DIV 86400000000"))
      .groupBy(col("user_id"))
      .agg(min(col("dayi")).as("fd"),
        min(when(col("event_type") === "error", col("dayi"))).as("dd"),
        max(col("dayi")).as("ld"))
      .withColumn("grp", pmod(col("user_id"), lit(2L)))
      .select(col("user_id"), col("fd"), col("grp"),
        coalesce(col("dd"), col("ld")).as("exit"),
        when(col("dd").isNotNull, 1L).otherwise(0L).as("died"),
        col("dd"))

  /** Sweep-line risk/death table per (grp, pooled death day): at-risk
    * counts come from ±1 entry/exit deltas prefix-summed in day order
    * with zero-weight probe rows sorting AFTER same-day deltas — the
    * interval count #(fd ≤ t ≤ ld) without joining users to days
    * (|days| delta rows + |death days|×2 probes, all calendar-bounded;
    * the per-group prefix window is the [[maxConcurrencyOn]] shape).
    * Returns (grp, day, n_at_risk, n_deaths) for BOTH groups at every
    * pooled death day. */
  private[operators] def survivalRisk(life: DataFrame): DataFrame = {
    val deltas = life.select(col("grp"), col("fd").as("day"), lit(1L).as("dl"))
      .unionByName(life.select(col("grp"), (col("exit") + 1L).as("day"),
        lit(-1L).as("dl")))
      .groupBy(col("grp"), col("day")).agg(sum(col("dl")).as("dl"))
      .withColumn("probe", lit(0L))
    val dayGrid = life.filter(col("died") === 1L)
      .select(col("dd").as("day")).distinct()
    val probes = dayGrid.withColumn("grp", lit(0L))
      .unionByName(dayGrid.withColumn("grp", lit(1L)))
      .withColumn("dl", lit(0L)).withColumn("probe", lit(1L))
      .select(col("grp"), col("day"), col("dl"), col("probe"))
    val deaths = life.filter(col("died") === 1L)
      .groupBy(col("grp"), col("dd").as("day"))
      .agg(count(lit(1)).as("n_deaths"))
    val wg = Window.partitionBy(col("grp")).orderBy(col("day"), col("probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.unionByName(probes)
      .withColumn("atrisk", sum(col("dl")).over(wg))
      .filter(col("probe") === 1L)
      .join(deaths, Seq("grp", "day"), "left")
      .select(col("grp"), col("day"), col("atrisk").as("n_at_risk"),
        coalesce(col("n_deaths"), lit(0L)).as("n_deaths"))
  }

  /** Kaplan–Meier product-limit survival curve per cohort over user
    * lifetimes ([[survivalLife]]): S(t) = Π_{t_j ≤ t}(1 − d_j/n_j) at
    * that cohort's death days, carried as the CUMULATIVE SUM of
    * micro-nat-floored log factors — a prefix sum is windowable where a
    * prefix product is not, and each ln/floor runs through the identical
    * double tree on both engines (the ts_perm_entropy discipline). The
    * curve SHIPS in exact log micro-nats — closing it with exp() is the
    * consumer's one client-side call, because exp is not correctly
    * rounded in IEEE 754 and measurably differs by 1 ULP across engines
    * (ln happens to agree; exp does not — found the hard way). A day
    * where the whole risk set dies has no finite log factor:
    * log_s_micro nulls and survival_zero latches from there on.
    * |death days| rows per cohort — calendar-bounded output, one
    * per-user agg + one sweep + one window. */
  private def tsKaplanMeier(s: SparkSession, d: String): DataFrame =
    kmOnLife(survivalLife(s, d))

  /** The curve kernel over any two-arm life frame (fd, exit, died, dd,
    * grp ∈ {0,1}) — shared by the declared query and
    * [[graft.api.GraftApi.kaplanMeier]]. */
  private[graft] def kmOnLife(life: DataFrame): DataFrame = {
    val risk = survivalRisk(life).filter(col("n_deaths") > 0)
    val w = Window.partitionBy(col("grp")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk
      .withColumn("term", when(col("n_at_risk") > col("n_deaths"),
        floor(lit(1000000.0) * log(
          (col("n_at_risk") - col("n_deaths")).cast(DoubleType) /
            col("n_at_risk").cast(DoubleType))).cast(LongType)))
      .withColumn("dead", max(when(col("term").isNull, 1L).otherwise(0L)).over(w))
      .withColumn("ls", sum(col("term")).over(w))
      .select(col("grp"), col("day"), col("n_at_risk"), col("n_deaths"),
        when(col("dead") === 1L, lit(null)).otherwise(col("ls"))
          .as("log_s_micro"),
        (col("dead") === 1L).as("survival_zero"))
      .orderBy("grp", "day")
  }

  /** Page–Hinkley sequential drift detector per event type: m_t =
    * Σ_{i≤t}(x_i − x̄_i − δ) with the RUNNING mean x̄_i = S_i/i (the
    * classic training-window-free PH recursion), alarm when the
    * excursion m_t − min_{s≤t} m_s exceeds λ. Each mean term floors to
    * exact micro-cents through DECIMAL(38,0) integral division (1e6·S_i
    * wraps Long past ~1e8 rows/type), so the cumulants, the running min
    * and the alarm set are engine-exact integers; δ = 0 and
    * λ = 3e11 micro-cents (300,000.00 cumulative) are spec constants in the
    * [[tsCusumAlarm]] style. Three chained running windows on ONE
    * per-type partitioning — a single exchange of the events table. */
  private def tsPageHinkley(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lambda = 300000000000L
    U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .withColumn("i", row_number().over(w).cast(LongType))
      .withColumn("sx", sum(col("vc")).over(run))
      .withColumn("term", expr("1000000 * vc - CAST((1000000 * " +
        "CAST(sx AS DECIMAL(38,0))) DIV i AS BIGINT)"))
      .withColumn("m", sum(col("term")).over(run))
      .withColumn("exc", col("m") - min(col("m")).over(run))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("exc") > lambda, 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("exc") > lambda, unix_micros(col("ts"))))
          .as("first_alarm_us"),
        max(col("exc")).as("max_excursion_micro"))
      .orderBy("event_type")
  }

  /** Isotonic (monotone non-decreasing) regression of the per-type DAILY
    * mean value against time — the calibration-curve/trend-floor fit ML
    * pipelines run, computed by the exact minimax identity
    * fitted(i) = max_{j≤i} min_{k≥i} mean(y[j..k]) instead of PAVA's
    * sequential pooling (a prefix-sum pair frame DISTRIBUTES; the O(n)
    * pool loop does not). Daily means and every contiguous-segment mean
    * floor to micro-units through one DECIMAL-routed integral division,
    * the suffix-min is a per-(type, j) descending window, the closing
    * max a hash agg — |days|² pairs per type, calendar²-bounded like
    * ts_theil_sen's slope pairs (pre-aggregate to weeks past multi-year
    * spans). */
  private def tsIsotonic(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .withColumn("vc", U.cents(col("value")))
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(count(lit(1)).as("c"), sum(col("vc")).as("sv"))
      .withColumn("y",
        expr("CAST((1000000 * CAST(sv AS DECIMAL(38,0))) DIV c AS BIGINT)"))
    isotonicOnSeries(daily.select(col("event_type").as("g"),
        col("dayi").as("x"), col("y")))
      .select(col("g").as("event_type"), col("x").as("day"),
        col("y_micro"), col("fitted_micro"))
      .orderBy("event_type", "day")
  }

  /** The minimax kernel over any (g, x, y) series frame — shared by the
    * declared query and [[graft.api.GraftApi.isotonicFit]]. */
  private[graft] def isotonicOnSeries(ser: DataFrame): DataFrame = {
    val wIdx = Window.partitionBy(col("g")).orderBy(col("x"))
    val run = wIdx.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = ser
      .withColumn("i", row_number().over(wIdx).cast(LongType))
      .withColumn("ps", sum(col("y")).over(run))
    val pj = base.select(col("g"), col("i").as("j"),
      (col("ps") - col("y")).as("ps0"))
    val pk = base.select(col("g").as("g2"), col("i").as("k"),
      col("ps").as("psk"))
    val wsuf = Window.partitionBy(col("g"), col("j"))
      .orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fit = pj.join(pk, pj("g") === pk("g2") && col("j") <= col("k"))
      .select(col("g"), col("j"), col("k"),
        expr("(psk - ps0) DIV (k - j + 1)").as("m"))
      .withColumn("sm", min(col("m")).over(wsuf))
      .groupBy(col("g").as("fg"), col("k").as("fi"))
      .agg(max(col("sm")).as("fitted_micro"))
    base.join(fit, col("g") === col("fg") && col("i") === col("fi"))
      .select(col("g"), col("x"), col("y").as("y_micro"),
        col("fitted_micro"))
      .orderBy("g", "x")
  }

  /** Day-level activity inequality per event type — the Gini coefficient
    * of the type's DAILY event counts (is the volume spread evenly
    * across the observation span or concentrated in bursts? — the
    * temporal-concentration screen next to [[tsBurst]]'s hour spikes).
    * The rank-weighted exact formula of [[graft.operators.Aggregations]]'
    * agg_gini applied to the calendar-bounded daily frame: counts and
    * ranks are exact integers, the coefficient is ONE integral division
    * of exact operands — hash-matchable at any partition count, and the
    * sort is over |days| rows per type, never over events. */
  private def tsLorenzInterday(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("c"), col("dayi"))
    daily.withColumn("r", row_number().over(w).cast(LongType))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("total_events"),
        sum(col("r") * col("c")).as("rc"))
      .select(col("event_type"), col("n_days"), col("total_events"),
        expr("(1000000 * (2 * rc - (n_days + 1) * total_events)) " +
          "DIV (n_days * total_events)").as("gini_micro"))
      .orderBy("event_type")
  }

  /** Pre/post level comparison per event type, split at the exact
    * midpoint of the observed epoch-microsecond span (integer FLOOR
    * division on both engines — a rounded double midpoint differs by
    * 1 µs when mn+mx is odd and flips boundary events) — the deploy-impact
    * question ("did the level move after the change?") asked of every
    * type at once. Counts and micro-unit means are exact integers off
    * cent power sums; only the closing Welch t is a mirrored double tree
    * (the [[aggCohensD]] epilogue shape). The 1-row global midpoint
    * broadcasts; one pass, one rollup. */
  private def tsPrepost(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val ev = U.events(s, d).withColumn("vc", U.cents(col("value")))
    val mid = ev.agg(min(unix_micros(col("ts"))).as("mn"),
        max(unix_micros(col("ts"))).as("mx"))
      .select(expr("(mn + mx) DIV 2").as("mid_us"))
    val ps = ev.crossJoin(broadcast(mid))
      .withColumn("post", (unix_micros(col("ts")) > col("mid_us")).cast("int"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("post") === 0, 1L).otherwise(0L)).as("n_pre"),
        sum(when(col("post") === 1, 1L).otherwise(0L)).as("n_post"),
        sum(when(col("post") === 0, col("vc")).otherwise(0L).cast(dec))
          .as("s_pre"),
        sum(when(col("post") === 1, col("vc")).otherwise(0L).cast(dec))
          .as("s_post"),
        sum(when(col("post") === 0, col("vc").cast(dec) * col("vc"))
          .otherwise(lit(0L).cast(dec))).as("ss_pre"),
        sum(when(col("post") === 1, col("vc").cast(dec) * col("vc"))
          .otherwise(lit(0L).cast(dec))).as("ss_post"))
    val (np, nq) = (col("n_pre").cast(DoubleType), col("n_post").cast(DoubleType))
    val mp = col("s_pre").cast(DoubleType) / np
    val mq = col("s_post").cast(DoubleType) / nq
    val vp = (col("ss_pre").cast(DoubleType) / np - mp * mp) * np / (np - lit(1.0))
    val vq = (col("ss_post").cast(DoubleType) / nq - mq * mq) * nq / (nq - lit(1.0))
    ps.select(col("event_type"), col("n_pre"), col("n_post"),
        expr("CAST((1000000 * s_pre) DIV nullif(n_pre, 0) AS BIGINT)")
          .as("mean_pre_micro"),
        expr("CAST((1000000 * s_post) DIV nullif(n_post, 0) AS BIGINT)")
          .as("mean_post_micro"),
        ((mq - mp) / sqrt(vp / np + vq / nq)).as("welch_t"))
      .orderBy("event_type")
  }

  /** Per-state entropy rate of the behavioral Markov chain: for each
    * from-type, H_i = −Σ_j p_ij·ln p_ij over [[tsMarkov]]'s transition
    * counts — how PREDICTABLE the next action is from each state (0 =
    * deterministic funnel step, ln|types| = uniform wandering). Counts
    * and row totals are exact integers; each entropy term floors to
    * micro-nats through the identical double tree both engines
    * (the ts_perm_entropy discipline), so the sum of floored terms
    * hash-matches. One lead pass + two hash aggs. */
  private def tsEntropyRate(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    U.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("row_total",
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
      .withColumn("term_micro",
        expr("CAST(floor(CAST(n AS DOUBLE) / row_total * " +
          "ln(CAST(n AS DOUBLE) / row_total) * -1000000.0) AS BIGINT)"))
      .groupBy(col("from_type"))
      .agg(count(lit(1)).as("n_successors"),
        max(col("row_total")).as("n_transitions"),
        (sum(col("term_micro")).cast(DoubleType) / lit(1000000.0))
          .as("entropy_rate_nats"))
      .orderBy("from_type")
  }

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent NON-purchase event within the preceding hour ("direct" when
    * none) — the marketing-analytics workhorse sitting one rung above
    * [[tsFunnel]]'s ordered-steps count. ONE window pass: the candidate
    * touch rides a last(ignoreNulls) struct over the user's ordered
    * stream, the 1-hour cutoff is exact epoch-microsecond arithmetic, and
    * the per-channel rollup is exact counts + cents. */
  private def tsAttribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    U.events(s, d)
      .withColumn("prev_touch",
        last(when(col("event_type") =!= "purchase",
          struct(unix_micros(col("ts")).as("tus"),
            col("event_type").as("tt"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("prev_touch").isNotNull &&
          unix_micros(col("ts")) - col("prev_touch.tus") <= 3600000000L,
          col("prev_touch.tt")).otherwise(lit("direct")))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(U.cents(col("value"))).as("attributed_cents"))
      .orderBy("channel")
  }

  /** Seasonal-naive forecast evaluation (MASE over a weekly season) —
    * the accuracy gate a forecasting pipeline reads before shipping any
    * fancier model (if it can't beat snaive-7, don't deploy it): per
    * type, the dense daily grid (zero-filled gaps), forecast(t) =
    * y(t−7), scaled against the in-window naive-1 baseline. All error
    * sums are exact cents; the MASE ships as floored micro-units of the
    * two exact sums (snaive beats naive-1 when mase_micro < 1e6). One
    * grid explode + one window pass per type. */
  private def tsSnaiveMase(s: SparkSession, d: String): DataFrame = {
    val vc = U.cents(col("value"))
    val daily = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(vc).as("y"))
    val grid = daily.groupBy(col("event_type"))
      .agg(min(col("dayi")).as("lo"), max(col("dayi")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("dayi"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
    grid.join(daily, Seq("event_type", "dayi"), "left")
      .withColumn("y", coalesce(col("y"), lit(0L)))
      .withColumn("l1", lag(col("y"), 1).over(w))
      .withColumn("l7", lag(col("y"), 7).over(w))
      .filter(col("l7").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("y") - col("l7"))).as("sae_snaive"),
        sum(abs(col("y") - col("l1"))).as("sae_naive1"))
      .select(col("event_type"), col("n_eval"), col("sae_snaive"),
        col("sae_naive1"),
        when(col("sae_naive1") > 0,
          expr("(1000000 * sae_snaive) DIV sae_naive1")).as("mase_micro"))
      .orderBy("event_type")
  }

  /** Weibull reliability fit per experiment arm via median-rank
    * regression — the closed-form (no iterative MLE) estimate a
    * reliability engineer reads off a Weibull probability plot: the
    * uncensored time-to-first-error lifetimes from [[survivalLife]] get
    * median-rank plotting positions Fᵢ=(i−0.3)/(n+0.4), both plot axes
    * xᵢ=ln tᵢ and yᵢ=ln(−ln(1−Fᵢ)) are FLOORED TO MICRO-NATS so every
    * downstream sum is exact integer (ln agrees cross-engine; summing
    * raw doubles would be addition-order-dependent), and the slope
    * β (the shape: <1 infant mortality, ≈1 random, >1 wear-out) comes
    * from the integer normal equations through DECIMAL(38,0) cross
    * terms. Ties in t permute only equal x's across ranks, so every sum
    * is tie-order invariant. ln η ships as the integer recombination
    * x̄−ȳ/β of the three shipped statistics. One per-user agg + one
    * |failures| rank window per arm. */
  private def tsWeibullFit(s: SparkSession, d: String): DataFrame = {
    val life = survivalLife(s, d).filter(col("died") === 1L)
      .select(col("grp"), (col("dd") - col("fd") + 1L).as("t"))
    val n = life.groupBy(col("grp").as("ng")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("grp")).orderBy(col("t"))
    val dec = DecimalType(38, 0)
    life.withColumn("i", row_number().over(w).cast(LongType))
      .join(broadcast(n), col("grp") === col("ng"))
      .withColumn("x",
        floor(lit(1000000.0) * log(col("t").cast(DoubleType)))
          .cast(LongType))
      .withColumn("y",
        floor(lit(1000000.0) * log(-log(lit(1.0) -
          (col("i").cast(DoubleType) - lit(0.3)) /
            (col("n").cast(DoubleType) + lit(0.4))))).cast(LongType))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n_failures"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"),
        sum(col("x").cast(dec) * col("y")).as("sxy"))
      .select(col("grp"), col("n_failures"),
        expr("CAST(sx DIV n_failures AS BIGINT)").as("xbar_micro"),
        expr("CAST(sy DIV n_failures AS BIGINT)").as("ybar_micro"),
        expr("CAST((1000000 * (n_failures * sxy - " +
          "CAST(sx AS DECIMAL(38,0)) * sy)) DIV " +
          "nullif(n_failures * sxx - CAST(sx AS DECIMAL(38,0)) * sx, 0) " +
          "AS BIGINT)").as("beta_micro"))
      .withColumn("ln_eta_micro",
        expr("xbar_micro - (1000000 * ybar_micro) DIV " +
          "nullif(beta_micro, 0)"))
      .orderBy("grp")
  }

  /** Croston's method per type over the INTERMITTENT daily series of
    * high-value (≥ $90) events — the forecaster built for exactly the
    * demand shape SES/Holt mishandle (many zero days): on each demand
    * day, separate EWMAs (α=0.2) of the demand SIZE q and the
    * inter-demand INTERVAL a update in exact integer milli-units (the
    * tsHolt mapPartitions recursion — per-type state, integer division
    * at every step, mirrored by the oracle's recursive CTE), and the
    * demand-rate forecast is q/a in milli. Zero days never materialize:
    * the interval arithmetic reads them off day gaps, so the scan is
    * |demand days| not |calendar|. */
  private def tsCroston(s: SparkSession, d: String): DataFrame =
    crostonOn(U.events(s, d)
      .filter(U.cents(col("value")) >= 9000L)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(count(lit(1)).as("z")))

  /** The Croston kernel over any (event_type, dayi, z) demand frame —
    * shared by the declared query and
    * [[graft.api.GraftApi.crostonForecast]]. */
  private[graft] def crostonOn(demand: DataFrame): DataFrame = {
    val s = demand.sparkSession
    import s.implicits._
    val daily = demand
      .repartition(col("event_type"))
      .sortWithinPartitions(col("event_type"), col("dayi"))
      .select(col("event_type"), col("dayi"), col("z"))
      .as[(String, Long, Long)]
    daily.mapPartitions { it =>
      var et = ""
      var started = false
      var q = 0L
      var a = -1L
      var prev = 0L
      it.map { case (t, day, z) =>
        if (!started || t != et) {
          et = t; started = true; q = 1000L * z; a = -1L; prev = day
          (t, day, z, q, None: Option[Long], None: Option[Long])
        } else {
          val iv = day - prev
          prev = day
          a = if (a < 0L) 1000L * iv else (20L * 1000L * iv + 80L * a) / 100L
          q = (20L * 1000L * z + 80L * q) / 100L
          (t, day, z, q, Some(a), Some((1000L * q) / a))
        }
      }
    }.toDF("event_type", "dayi", "z", "q_milli", "a_milli",
        "forecast_milli")
      .orderBy("event_type", "dayi")
  }

  /** SES smoothing-constant grid search per type — the hyperparameter
    * sweep a forecasting pipeline runs before trusting ANY α: for each
    * α ∈ {0.1…0.9}, the simple-exponential level recursion runs in exact
    * integer milli over the per-type daily event counts, accumulating
    * the one-step-ahead squared error (forecast BEFORE update — the
    * honest SSE), and the per-type argmin row is flagged beside the full
    * tuning table. The 9 α-replicas widen the CALENDAR-bounded daily
    * frame, never the raw events; the recursion is the tsHolt
    * mapPartitions shape keyed by (type, α). SSE in milli² holds to
    * ~3·10⁹ events/day/type in a Long — beyond that, shard the day. */
  private def tsSesGrid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(count(lit(1)).as("z"))
      .withColumn("al", explode(sequence(lit(1L), lit(9L))))
      .repartition(col("event_type"), col("al"))
      .sortWithinPartitions(col("event_type"), col("al"), col("dayi"))
      .select(col("event_type"), col("al"), col("dayi"), col("z"))
      .as[(String, Long, Long, Long)]
    val fin = daily.mapPartitions { it =>
      // a partition holds whole (type, α) groups of CALENDAR-bounded
      // daily rows — safe to materialize, sort, and fold in memory
      it.toIndexedSeq.groupBy { case (t, a, _, _) => (t, a) }.iterator
        .map { case ((t, a), rows) =>
          val days = rows.sortBy(_._3)
          var q = 1000L * days.head._4
          var sse = 0L
          days.tail.foreach { case (_, _, _, z) =>
            val err = 1000L * z - q
            sse += err * err
            q = (a * 1000L * z + (10L - a) * q) / 10L
          }
          (t, a, days.length.toLong, q, sse)
        }
    }.toDF("event_type", "alpha_decile", "n_days", "level_milli", "sse")
    val best = fin.groupBy(col("event_type").as("bt"))
      .agg(min(col("sse")).as("best_sse"))
    fin.join(broadcast(best), col("event_type") === col("bt"))
      .select(col("event_type"), col("alpha_decile"), col("n_days"),
        col("level_milli"), col("sse"),
        (col("sse") === col("best_sse")).as("is_best"))
      .orderBy("event_type", "alpha_decile")
  }

  /** Interrupted time-series (segmented regression) per type at the
    * observed day midpoint — the causal-impact read a release manager
    * wants from a deploy: per segment (pre/post), the OLS slope of the
    * daily cents total against the day index from exact integer power
    * sums (DECIMAL(38,0) cross terms), both segments' predictions
    * EVALUATED AT THE CUT to give the level jump, and the slope change
    * beside it. slope = (nΣxy−ΣxΣy)/(nΣxx−(Σx)²) and pred(sd) =
    * (Σy·den + num·(n·sd−Σx))/(n·den), both shipped in exact micro by
    * integral division — no doubles anywhere. One daily rollup + one
    * 2-segment aggregate per type. */
  private def tsIts(s: SparkSession, d: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val daily = U.events(s, d)
      .select(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"),
        U.cents(col("value")).as("vc"))
      .groupBy(col("event_type"), col("dayi"))
      .agg(sum(col("vc")).as("y"))
    val split = daily.agg(expr("(min(dayi) + max(dayi) + 1) DIV 2").as("sd"))
    val seg = daily.crossJoin(broadcast(split))
      .withColumn("post", when(col("dayi") >= col("sd"), 1L).otherwise(0L))
      .groupBy(col("event_type"), col("post"), col("sd"))
      .agg(count(lit(1)).as("n"), sum(col("dayi")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("dayi").cast(dec) * col("dayi")).as("sxx"),
        sum(col("dayi").cast(dec) * col("y")).as("sxy"))
      .withColumn("num",
        expr("n * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den",
        expr("n * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      .withColumn("slope_micro",
        expr("CAST((1000000 * num) DIV nullif(den, 0) AS BIGINT)"))
      .withColumn("pred_micro",
        expr("CAST((1000000 * (CAST(sy AS DECIMAL(38,0)) * den + " +
          "num * (n * sd - sx))) DIV nullif(n * den, 0) AS BIGINT)"))
    val pre = seg.filter(col("post") === 0L)
      .select(col("event_type"), col("n").as("n_pre"),
        col("slope_micro").as("slope_pre_micro"),
        col("pred_micro").as("pred_pre_micro"))
    val post = seg.filter(col("post") === 1L)
      .select(col("event_type").as("pt"), col("n").as("n_post"),
        col("slope_micro").as("slope_post_micro"),
        col("pred_micro").as("pred_post_micro"))
    pre.join(post, col("event_type") === col("pt"))
      .select(col("event_type"), col("n_pre"), col("n_post"),
        col("slope_pre_micro"), col("slope_post_micro"),
        (col("slope_post_micro") - col("slope_pre_micro"))
          .as("delta_slope_micro"),
        (col("pred_post_micro") - col("pred_pre_micro")).as("jump_micro"))
      .orderBy("event_type")
  }

  /** SRE error-budget burn-down over the daily event stream — the
    * on-call dashboard read behind every SLO: against a 1% error-rate
    * objective, each day ships its exact error rate, its burn rate
    * (rate/SLO — >1e6 means burning faster than budgeted), and the
    * cumulative fraction of the whole-span error budget consumed, with
    * the exhaustion flag. Entirely integer (the SLO is a ratio, so
    * every division is integral micro); one daily rollup + one prefix
    * window over the calendar. */
  private def tsErrorBudget(s: SparkSession, d: String): DataFrame = {
    val daily = U.events(s, d)
      .select(expr("unix_micros(ts) DIV 86400000000").as("dayi"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("e"))
      .groupBy(col("dayi"))
      .agg(count(lit(1)).as("n_events"), sum(col("e")).as("n_errors"))
    val tot = daily.agg(sum(col("n_events")).as("total_n"))
    val w = Window.orderBy(col("dayi"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(tot))
      .withColumn("cum_err", sum(col("n_errors")).over(w))
      .select(col("dayi"), col("n_events"), col("n_errors"),
        expr("(1000000 * n_errors) DIV n_events").as("rate_micro"),
        expr("(100000000 * n_errors) DIV n_events").as("burn_micro"),
        expr("CAST((CAST(100000000 AS DECIMAL(38,0)) * cum_err) DIV " +
          "total_n AS BIGINT)").as("consumed_micro"))
      .withColumn("exhausted", col("consumed_micro") > 1000000L)
      .orderBy("dayi")
  }

  /** Matrix profile (non-normalized, m=7) of the per-type daily spend
    * series — the all-pairs motif/discord scan: for every length-7 window
    * over the dense day-rank index, the squared Euclidean distance to its
    * nearest NON-TRIVIAL neighbor (exclusion zone |i−j| ≥ 4 = ⌈m/2⌉) with
    * the neighbor's index beside it. The row with the largest profile
    * value is the series' top discord (the week unlike any other), the
    * smallest its motif (the repeated weekly shape). Distances are exact
    * integer cents² computed in DECIMAL(38,0) (daily sums square past
    * Long at large SF; a Long cast here would silently NULL under
    * non-ANSI Spark while the oracle errors — the cast is banned from
    * this kernel) and SHIP as STRING: the r14 canary proved the driver's
    * hash pipeline diverges on decimal128 output columns (SURVEY §5
    * policy: no decimal128 in final output schemas; decimal→string is
    * exact and canonical in both engines); ties break to the smallest
    * neighbor index
    * via the (d2, j) rank, identical both engines. Scale shape: all work
    * happens on the DAY-ranked frame — calendar²·m pair terms per type,
    * bounded by the time domain at any SF, never by event count; the
    * events scan is one hash agg. */
  private def tsMatrixProfile(s: SparkSession, d: String): DataFrame =
    matrixProfileOn(U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(U.cents(col("value"))).as("y")))

  /** The matrix-profile kernel over any (event_type, dayi, y) series
    * frame — shared by the declared query and
    * [[graft.api.GraftApi.matrixProfile]]. */
  private[graft] def matrixProfileOn(series: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
    val daily = U.track(series
      .withColumn("r", row_number().over(wOrd).cast(LongType))
      .withColumn("nr", count(lit(1)).over(
        Window.partitionBy(col("event_type"))).cast(LongType))
      .persist())
    val starts = daily.filter(col("r") <= col("nr") - 6L)
      .select(col("event_type").as("et"), col("r").as("i"))
    val pairs = starts.join(
        starts.select(col("et").as("et2"), col("i").as("j")),
        col("et") === col("et2") && abs(col("i") - col("j")) >= 4L)
      .select(col("et"), col("i"), col("j"))
      .withColumn("k", explode(sequence(lit(0L), lit(6L))))
    val a = daily.select(col("event_type").as("ea"), col("r").as("ra"),
      col("y").as("ya"))
    val b = daily.select(col("event_type").as("eb"), col("r").as("rb"),
      col("y").as("yb"))
    val d2 = pairs
      .join(a, col("et") === col("ea") && col("i") + col("k") === col("ra"))
      .join(b, col("et") === col("eb") && col("j") + col("k") === col("rb"))
      .groupBy(col("et"), col("i"), col("j"))
      .agg(sum((col("ya") - col("yb")).cast(dec) * (col("ya") - col("yb")))
        .cast(dec).as("d2"))
    val wMin = Window.partitionBy(col("et"), col("i"))
      .orderBy(col("d2"), col("j"))
    d2.withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
      .select(col("et").as("event_type"), col("i").as("w_idx"),
        col("j").as("nn_idx"), col("d2").cast(StringType).as("mp_d2"))
      .orderBy("event_type", "w_idx")
  }

  /** Sample entropy (m=2, Chebyshev tolerance r = range DIV 5) of the
    * per-type daily spend series — the regularity screen (Richman &
    * Moorman) an anomaly pipeline runs before trusting forecasts: B
    * counts template pairs matching at length 2, A at length 3, and
    * SampEn = −ln(A/B) ships as ln(B)−ln(A) in floored micro-nats — one
    * ln of an exact-integer ratio (the §5-safe call; NULL when either
    * count is 0, CASE-mirrored). The tolerance derives from the per-type
    * exact cents range, so the statistic is self-scaling and fully
    * integral up to the final ln. Shape: the pair frame is
    * calendar²-bounded per type (the Hodges–Lehmann posture) — one
    * events hash agg, then day² work that never grows with row count. */
  private def tsSampen(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
    val daily = U.track(U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(U.cents(col("value"))).as("y"))
      .withColumn("r", row_number().over(wOrd).cast(LongType))
      .persist())
    val st = daily.groupBy(col("event_type").as("set"))
      .agg(count(lit(1)).as("n"),
        expr("(MAX(y) - MIN(y)) DIV 5").as("rtol"))
    val starts = daily
      .join(broadcast(st), col("event_type") === col("set"))
      .filter(col("r") <= col("n") - 2L)
      .select(col("event_type").as("et"), col("r").as("i"),
        col("n"), col("rtol"))
    val pairs = starts.join(
        starts.select(col("et").as("et2"), col("i").as("j")),
        col("et") === col("et2") && col("i") < col("j"))
      .select(col("et"), col("i"), col("j"), col("n"), col("rtol"))
      .withColumn("k", explode(sequence(lit(0L), lit(2L))))
    val a = daily.select(col("event_type").as("ea"), col("r").as("ra"),
      col("y").as("ya"))
    val b = daily.select(col("event_type").as("eb"), col("r").as("rb"),
      col("y").as("yb"))
    val m = pairs
      .join(a, col("et") === col("ea") && col("i") + col("k") === col("ra"))
      .join(b, col("et") === col("eb") && col("j") + col("k") === col("rb"))
      .groupBy(col("et"), col("i"), col("j"))
      .agg(max(col("n")).as("n"), max(col("rtol")).as("rtol"),
        max(when(col("k") <= 1L, abs(col("ya") - col("yb")))).as("d2"),
        max(abs(col("ya") - col("yb"))).as("d3"))
    m.groupBy(col("et").as("event_type"))
      .agg(max(col("n")).as("n_days"),
        max(col("rtol")).as("rtol_cents"),
        sum(when(col("d2") <= col("rtol"), 1L).otherwise(0L)).as("b_count"),
        sum(when(col("d3") <= col("rtol"), 1L).otherwise(0L)).as("a_count"))
      .withColumn("sampen_micro_nats", expr(
        "CASE WHEN a_count > 0 AND b_count > 0 THEN " +
          "CAST(floor(1000000.0 * ln(CAST(b_count AS DOUBLE) / " +
          "CAST(a_count AS DOUBLE))) AS BIGINT) END"))
      .orderBy("event_type")
  }

  /** Deterministic RANSAC trend fit of the per-type daily series — the
    * robust alternative to OLS when outlier days would drag the slope:
    * 5 candidate lines through fixed anchor pairs (day-rank c ↔ rank
    * n−5+c, c = 1..5 — deterministic, never sampled), each scored by its
    * inlier count under the cross-multiplied band test
    * |(y−y1)(x2−x1) − (x−x1)(y2−y1)| ≤ tol·(x2−x1) with tol = range DIV
    * 10 — NO division anywhere in the consensus loop, so inlier counts
    * are exact integers. The winner (max inliers, smallest candidate
    * tiebreak) ships with its slope in micro-cents/day; the slope can be
    * negative, so its integral division rides the DECIMAL(38,0) DIV ↔
    * HUGEINT // pairing (both truncate toward zero — BIGINT // would
    * floor and diverge). Calendar-bounded: 5 candidates × |days| tests
    * per type after one events hash agg. */
  private def tsRansacTrend(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("dayi"))
    val daily = U.track(U.events(s, d)
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("dayi"))
      .agg(sum(U.cents(col("value"))).as("y"))
      .withColumn("r", row_number().over(wOrd).cast(LongType))
      .persist())
    val st = daily.groupBy(col("event_type").as("set"))
      .agg(count(lit(1)).as("n"),
        expr("(MAX(y) - MIN(y)) DIV 10").as("tol"))
    val cand = st.withColumn("c", explode(sequence(lit(1L), lit(5L))))
      .select(col("set").as("et"), col("c"), col("c").as("x1"),
        (col("n") - lit(5L) + col("c")).as("x2"), col("n"), col("tol"))
      .filter(col("x2") > col("x1"))
      .join(daily.select(col("event_type").as("e1"), col("r").as("r1"),
        col("y").as("y1")), col("et") === col("e1") && col("x1") === col("r1"))
      .join(daily.select(col("event_type").as("e2"), col("r").as("r2"),
        col("y").as("y2")), col("et") === col("e2") && col("x2") === col("r2"))
      .select(col("et"), col("c"), col("x1"), col("x2"), col("y1"),
        col("y2"), col("n"), col("tol"))
    val scored = daily.join(broadcast(cand),
        col("event_type") === col("et"))
      .withColumn("inlier",
        when(abs((col("y") - col("y1")) * (col("x2") - col("x1")) -
          (col("r") - col("x1")) * (col("y2") - col("y1"))) <=
          col("tol") * (col("x2") - col("x1")), 1L).otherwise(0L))
      .groupBy(col("et"), col("c"), col("x1"), col("x2"), col("y1"),
        col("y2"), col("n"))
      .agg(sum(col("inlier")).as("n_inliers"))
    val wBest = Window.partitionBy(col("et"))
      .orderBy(col("n_inliers").desc, col("c"))
    scored.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("et").as("event_type"), col("c").as("cand"),
        col("x1"), col("x2"), col("n").as("n_days"), col("n_inliers"),
        expr("CAST(CAST(1000000 * (y2 - y1) AS DECIMAL(38,0)) DIV " +
          "(x2 - x1) AS BIGINT)").as("slope_micro"))
      .orderBy("event_type")
  }

  /** Dominant period per event type — "is this series hourly-cyclic,
    * and at what period?" answered as the argmax of the shared
    * [[acfMicroFrame]] correlogram over lags 1..12 (ties to the
    * smallest lag), with the winning autocorrelation and a
    * significance read against the ±2/√n white-noise band (squared
    * comparison — no sqrt: n·acf_μ² ≥ 4·10¹² ⟺ |acf| ≥ 2/√n). Pure
    * epilogue over the taxonomy×12-row ACF frame — the
    * period detector a resampler runs before choosing its window. */
  private def tsDominantPeriod(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("acf_micro").desc, col("lag"))
    acfMicroFrame(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("event_type"), col("lag").as("best_lag"),
        col("acf_micro"), col("n_pairs"), col("n"),
        expr("CAST(n AS DECIMAL(38,0)) * acf_micro * acf_micro >= " +
          "CAST(4000000000000 AS DECIMAL(38,0))").as("significant"))
      .orderBy("event_type")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_dominant_period" -> tsDominantPeriod _,
    "ts_ransac_trend" -> tsRansacTrend _,
    "ts_sampen" -> tsSampen _,
    "ts_matrix_profile" -> tsMatrixProfile _,
    "ts_error_budget" -> tsErrorBudget _,
    "ts_ses_grid" -> tsSesGrid _,
    "ts_its" -> tsIts _,
    "ts_croston" -> tsCroston _,
    "ts_weibull_fit" -> tsWeibullFit _,
    "ts_snaive_mase" -> tsSnaiveMase _,
    "ts_attribution" -> tsAttribution _,
    "ts_entropy_rate" -> tsEntropyRate _,
    "ts_foster_stuart" -> tsFosterStuart _,
    "ts_prepost" -> tsPrepost _,
    "ts_page_hinkley" -> tsPageHinkley _,
    "ts_kaplan_meier" -> tsKaplanMeier _,
    "ts_isotonic" -> tsIsotonic _,
    "ts_lorenz_interday" -> tsLorenzInterday _,
    "ts_turning_points" -> tsTurningPoints _,
    "ts_vn_rank" -> tsVnRank _,
    "ts_cpk" -> tsCpk _,
    "ts_completeness" -> tsCompleteness _,
    "ts_dispersion" -> tsDispersion _,
    "ts_pot_exceedance" -> tsPotExceedance _,
    "ts_calendar_effects" -> tsCalendarEffects _,
    "ts_backtest_sma" -> tsBacktestSma _,
    "ts_oee" -> tsOee _,
    "ts_record_highs" -> tsRecordHighs _,
    "ts_features" -> tsFeatures _,
    "ts_durbin_watson" -> tsDurbinWatson _,
    "ts_cointegration" -> tsCointegration _,
    "ts_cusum_alarm" -> tsCusumAlarm _,
    "ts_variance_ratio" -> tsVarianceRatio _,
    "ts_pettitt" -> tsPettitt _,
    "ts_hampel" -> tsHampel _,
    "ts_runs_test" -> tsRunsTest _,
    "ts_rainflow_ranges" -> tsRainflowRanges _,
    "ts_spc_rules" -> tsSpcRules _,
    "ts_adf" -> tsAdf _,
    "ts_seasonal_mk" -> tsSeasonalMk _,
    "ts_theil_sen" -> tsTheilSen _,
    "ts_granger" -> tsGranger _,
    "ts_pacf" -> tsPacf _,
    "ts_event_study" -> tsEventStudy _,
    "ts_atr" -> tsAtr _,
    "ts_obv" -> tsObv _,
    "ts_beta" -> tsBeta _,
    "ts_mann_kendall" -> tsMannKendall _,
    "ts_acf_lags" -> tsAcfLags _,
    "ts_ljung_box" -> tsLjungBox _,
    "ts_haar_energy" -> tsHaarEnergy _,
    "ts_twap" -> tsTwap _,
    "ts_binseg" -> tsBinseg _,
    "ts_interarrival" -> tsInterarrival _,
    "ts_rolling_ols" -> tsRollingOls _,
    "ts_hurst_rs" -> tsHurstRs _,
    "ts_perm_entropy" -> tsPermEntropy _,
    "ts_burst" -> tsBurst _,
    "ts_max_concurrency" -> tsMaxConcurrency _,
    "ts_rsi" -> tsRsi _,
    "ts_hysteresis" -> tsHysteresis _,
    "ts_window_funnel" -> tsWindowFunnel _,
    "ts_decompose" -> tsDecompose _,
    "ts_stochastic" -> tsStochastic _,
    "ts_sma_cross" -> tsSmaCross _,
    "ts_macd" -> tsMacd _,
    "ts_kalman" -> tsKalman _,
    "ts_cross_corr" -> tsCrossCorr _,
    "ts_motif_count" -> tsMotif _,
    "ts_seasonal_strength" -> tsSeasonalStrength _,
    "ts_run_length" -> tsRunLength _,
    "ts_dtw" -> tsDtw _,
    "ts_changepoint" -> tsChangepoint _,
    "ts_sax" -> tsSax _,
    "ts_corr_matrix" -> tsCorrMatrix _,
    "ts_markov" -> tsMarkov _,
    "ts_uptime" -> tsUptime _,
    "ts_trend" -> tsTrend _,
    "ts_peak_detect" -> tsPeakDetect _,
    "ts_lttb" -> tsLttb _,
    "ts_holt" -> tsHolt _,
    "ts_holt_winters" -> tsHoltWinters _,
    "ts_theta" -> tsTheta _,
    "ts_drawdown" -> tsDrawdown _,
    "ts_heatmap_bins" -> tsHeatmapBins _,
    "ts_top_sessions" -> tsTopSessions _,
    "ts_vwap" -> tsVwap _,
    "ts_session_native" -> tsSessionNative _,
    "ts_pattern_ab" -> tsPatternAb _,
    "ts_rolling_median" -> tsRollingMedian _,
    "ts_trailing_1h" -> tsTrailing1h _,
    "ts_cusum" -> tsCusum _,
    "ts_scd2" -> tsScd2 _,
    "ts_interpolate" -> tsInterpolate _,
    "ts_autocorr" -> tsAutocorr _,
    "ts_seasonal" -> tsSeasonal _,
    "ts_retention" -> tsRetention _,
    "ts_funnel" -> tsFunnel _,
    "ts_funnel_steps" -> tsFunnelSteps _,
    "ts_downsample_ohlc" -> tsOhlc _,
    "ts_ewma" -> tsEwma _,
    "ts_outlier_mad" -> tsOutlierMad _,
    "ts_gap_detect" -> tsGapDetect _,
    "ts_asof_enrich" -> tsAsofEnrich _,
    "ts_tumbling" -> tsTumbling _,
    "ts_sliding" -> tsSliding _,
    "ts_sessionize" -> tsSessionize _,
    "ts_resample_fill" -> tsResampleFill _,
    "ts_diff_rate" -> tsDiffRate _,
    "ts_bollinger" -> tsBollinger _,
    "ts_seasonal_outlier" -> tsSeasonalOutlier _,
    "ts_zscore" -> tsZscore _)

  /** The SAX symbol CTE chain (breakpoints → daily sums → symbols) shared
    * by the ts_sax and ts_motif_count oracles — mirrors [[saxSymbols]]. */
  private val saxCtes: String = {
    val c = OSQL.cents("value")
    s"bp AS (SELECT " +
      s"CAST(floor(quantile_cont($c, 0.25) * 2) AS BIGINT) AS bp25, " +
      s"CAST(floor(quantile_cont($c, 0.5) * 2) AS BIGINT) AS bp50, " +
      s"CAST(floor(quantile_cont($c, 0.75) * 2) AS BIGINT) AS bp75 " +
      "FROM events), " +
      "daily AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
      s"CAST(SUM($c) AS BIGINT) AS sd, CAST(COUNT(*) AS BIGINT) AS nd " +
      "FROM events GROUP BY 1, 2), " +
      "sym AS (SELECT user_id, day, " +
      "CASE WHEN sd * 2 < bp25 * nd THEN 'a' " +
      "WHEN sd * 2 < bp50 * nd THEN 'b' " +
      "WHEN sd * 2 < bp75 * nd THEN 'c' ELSE 'd' END AS sym " +
      "FROM daily CROSS JOIN bp)"
  }

  /** ONE oracle pins the batch hysteresis query AND its streaming twin
    * (`stream_hysteresis` — the transformWithState latch replays this
    * exact last-IGNORE-NULLS scan), so the two can never drift. */
  /** Shared survival CTE chain ending at `risk0` = (grp, day, n_at_risk,
    * n_deaths) for BOTH cohorts at every pooled death day — the SQL
    * mirror of [[survivalLife]]+[[survivalRisk]], nested by the
    * ts_kaplan_meier AND agg_log_rank oracles so the curve and the test
    * share one lifetime definition on both engines. The oracle counts
    * at-risk sets by brute interval predicate (|death days| ≈ dozens);
    * the Spark side is the sweep-line shape. */
  private[operators] lazy val survivalCtes: String =
    "life0 AS (SELECT user_id, " +
      "MIN(epoch_us(ts) // 86400000000) AS fd, " +
      "MIN(CASE WHEN event_type = 'error' " +
      "THEN epoch_us(ts) // 86400000000 END) AS dd, " +
      "MAX(epoch_us(ts) // 86400000000) AS ld, " +
      "CAST(user_id % 2 AS BIGINT) AS grp FROM events GROUP BY 1, user_id % 2), " +
      "life AS (SELECT user_id, fd, grp, COALESCE(dd, ld) AS ex, " +
      "CASE WHEN dd IS NOT NULL THEN 1 ELSE 0 END AS died, dd " +
      "FROM life0), " +
      "sdays AS (SELECT DISTINCT dd AS day FROM life WHERE died = 1), " +
      "sprobes AS (SELECT grp, day FROM sdays CROSS JOIN " +
      "(VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) g(grp)), " +
      "satr AS (SELECT p.grp, p.day, CAST((SELECT COUNT(*) FROM life l " +
      "WHERE l.grp = p.grp AND l.fd <= p.day AND l.ex >= p.day) " +
      "AS BIGINT) AS n_at_risk FROM sprobes p), " +
      "sdth AS (SELECT grp, dd AS day, CAST(COUNT(*) AS BIGINT) " +
      "AS n_deaths FROM life WHERE died = 1 GROUP BY 1, 2), " +
      "risk0 AS (SELECT satr.grp, satr.day, satr.n_at_risk, " +
      "COALESCE(sdth.n_deaths, 0) AS n_deaths FROM satr LEFT JOIN sdth " +
      "ON satr.grp = sdth.grp AND satr.day = sdth.day)"

  private[graft] lazy val hysteresisSql: String = {
    val c = OSQL.cents("value")
    s"WITH th AS (SELECT event_type AS et, " +
      s"CAST(floor(quantile_cont($c, 0.75) * 4) AS BIGINT) AS hi_qc, " +
      s"CAST(floor(quantile_cont($c, 0.5) * 4) AS BIGINT) AS lo_qc " +
      "FROM events GROUP BY 1), " +
      s"b AS (SELECT event_id, user_id, event_type, ts, $c * 4 AS v4, " +
      "hi_qc, lo_qc FROM events JOIN th ON event_type = et), " +
      "e AS (SELECT *, CASE WHEN v4 > hi_qc THEN 1 " +
      "WHEN v4 < lo_qc THEN 0 END AS edge FROM b), " +
      "a AS (SELECT event_id, user_id, event_type, ts, " +
      "coalesce(last_value(edge IGNORE NULLS) OVER " +
      "(PARTITION BY user_id, event_type ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS alarm " +
      "FROM e), " +
      "p AS (SELECT *, lag(alarm, 1) OVER (PARTITION BY user_id, " +
      "event_type ORDER BY ts, event_id) AS prev FROM a) " +
      "SELECT event_id, user_id, event_type, " +
      "CAST(alarm AS BIGINT) AS alarm, " +
      "(alarm = 1 AND coalesce(prev, 0) = 0) AS is_onset " +
      "FROM p ORDER BY event_id"
  }

  /** The struct-list fold shared by the ts_macd / ts_kalman oracles —
    * DuckDB's list_reduce seeds from the FIRST element, exactly Spark's
    * aggregate(slice(…, 2, n−1), element_at(…, 1), …) in [[structFold]]. */
  private def foldSql(mk: String, step: String, finals: String): String =
    "SELECT user_id, CAST(len(st) AS BIGINT) AS n, " + finals +
      s" FROM (SELECT user_id, st, list_reduce(st, (acc, x) -> $step) AS fin " +
      "FROM (SELECT user_id, list_transform(list(value ORDER BY ts, event_id), " +
      s"v -> $mk) AS st FROM events GROUP BY user_id)) ORDER BY user_id"

  /** The correlogram CTE chain shared by the ts_acf_lags / ts_ljung_box
    * oracles — ends in an `acf` relation carrying the grid length n. */
  private lazy val acfSqlCore: String = {
    val c = OSQL.cents("value")
    s"WITH hourly AS (SELECT event_type, " +
      "epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx, " +
      s"CAST(SUM($c) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
      "grid AS (SELECT et, unnest(range(h0, h1 + 1)) AS ghidx FROM " +
      "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
      "FROM hourly GROUP BY 1)), " +
      "dense AS (SELECT et AS t, ghidx AS hx, COALESCE(xc, 0) AS x " +
      "FROM grid LEFT JOIN hourly ON et = event_type AND ghidx = hidx), " +
      "stats AS (SELECT t AS st, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(x) AS BIGINT) AS ssum FROM dense GROUP BY 1), " +
      "dn AS (SELECT t, hx, CAST(n * x - ssum AS HUGEINT) AS dev, n " +
      "FROM dense JOIN stats ON t = st), " +
      "den AS (SELECT t AS dt, SUM(dev * dev) AS den, MAX(n) AS n " +
      "FROM dn GROUP BY 1), " +
      "lags AS (SELECT unnest(range(1, 13)) AS lag), " +
      "pairs AS (SELECT a.t AS event_type, CAST(l.lag AS BIGINT) AS lag, " +
      "CAST(COUNT(*) AS BIGINT) AS n_pairs, SUM(a.dev * b.dev) AS num " +
      "FROM dn a CROSS JOIN lags l " +
      "JOIN dn b ON b.t = a.t AND b.hx = a.hx + l.lag GROUP BY 1, 2), " +
      "acf AS (SELECT event_type, lag, n_pairs, " +
      "CAST((1000000 * num) // den AS BIGINT) AS acf_micro, n " +
      "FROM pairs JOIN den ON event_type = dt)"
  }

  /** Shared daily-bar CTE chain for the ATR/OBV oracles: per (type, day)
    * the cents high/low/volume plus the (ts, event_id)-tie-broken close —
    * the SQL mirror of max_by(vc, struct(ts, event_id)). */
  private val dailyBarCtes = {
    val vc = OSQL.cents("value")
    s"ev AS (SELECT event_type, CAST(ts AS DATE) AS day, $vc AS vc, " +
      "ts, event_id FROM events), " +
      "cl AS (SELECT event_type, day, vc AS close_c FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY event_type, day " +
      "ORDER BY ts DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1), " +
      "ba AS (SELECT event_type, day, MAX(vc) AS high_c, MIN(vc) AS low_c, " +
      "COUNT(*) AS n FROM ev GROUP BY 1, 2), " +
      "bars AS (SELECT a.event_type, a.day, a.n, a.high_c, a.low_c, " +
      "c.close_c FROM ba a JOIN cl c USING (event_type, day))"
  }

  /** DuckDB mirror of [[tsCusumAlarm]]'s per-type rollup — shared with the
    * streaming twin `stream_cusum`, which replays the SAME recursion
    * through transformWithState, so the two queries cannot drift. */
  private[graft] val cusumAlarmSql: String = {
    val vc = OSQL.cents("value")
    s"WITH base AS (SELECT event_type, ts, event_id, $vc AS vc " +
      "FROM events), " +
      "st AS (SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n, " +
      "CAST(SUM(vc) AS BIGINT) AS sx FROM base GROUP BY 1), " +
      "dev AS (SELECT event_type, ts, event_id, n, " +
      "CAST(n AS HUGEINT) * (vc - 500) - sx AS dp, " +
      "CAST(sx AS HUGEINT) - CAST(n AS HUGEINT) * (vc + 500) AS dm " +
      "FROM base JOIN st ON event_type = et), " +
      "cum AS (SELECT event_type, ts, event_id, n, " +
      "SUM(dp) OVER w AS cp, SUM(dm) OVER w AS cm FROM dev " +
      "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "sc AS (SELECT event_type, ts, n, " +
      "cp - least(CAST(0 AS HUGEINT), MIN(cp) OVER w) AS sp, " +
      "cm - least(CAST(0 AS HUGEINT), MIN(cm) OVER w) AS sm FROM cum " +
      "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT event_type, CAST(MAX(n) AS BIGINT) AS n, " +
      "CAST(SUM(CASE WHEN sp > CAST(n AS HUGEINT) * 5000 THEN 1 " +
      "ELSE 0 END) AS BIGINT) AS n_alarms_high, " +
      "CAST(SUM(CASE WHEN sm > CAST(n AS HUGEINT) * 5000 THEN 1 " +
      "ELSE 0 END) AS BIGINT) AS n_alarms_low, " +
      "CAST(MIN(CASE WHEN sp > CAST(n AS HUGEINT) * 5000 " +
      "THEN epoch_us(ts) END) AS BIGINT) AS first_high_us, " +
      "CAST(MIN(CASE WHEN sm > CAST(n AS HUGEINT) * 5000 " +
      "THEN epoch_us(ts) END) AS BIGINT) AS first_low_us " +
      "FROM sc GROUP BY event_type ORDER BY event_type"
  }

  val oracleSql: Map[String, String] = Map(
    "ts_ransac_trend" -> {
      val c = OSQL.cents("value")
      s"WITH daily0 AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($c) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "daily AS (SELECT event_type, y, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dayi) AS BIGINT) AS r " +
        "FROM daily0), " +
        "st AS (SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n, " +
        "(MAX(y) - MIN(y)) // 10 AS tol FROM daily GROUP BY 1), " +
        "cand AS (SELECT st.et, t.range AS c, t.range AS x1, " +
        "st.n - 5 + t.range AS x2, st.n, st.tol, d1.y AS y1, d2.y AS y2 " +
        "FROM st CROSS JOIN range(1, 6) t " +
        "JOIN daily d1 ON st.et = d1.event_type AND t.range = d1.r " +
        "JOIN daily d2 ON st.et = d2.event_type " +
        "AND st.n - 5 + t.range = d2.r " +
        "WHERE st.n - 5 + t.range > t.range), " +
        "scored AS (SELECT cand.et, cand.c, cand.x1, cand.x2, cand.y1, " +
        "cand.y2, cand.n, CAST(SUM(CASE WHEN " +
        "abs((d.y - cand.y1) * (cand.x2 - cand.x1) - " +
        "(d.r - cand.x1) * (cand.y2 - cand.y1)) <= " +
        "cand.tol * (cand.x2 - cand.x1) THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_inliers FROM daily d JOIN cand ON d.event_type = cand.et " +
        "GROUP BY 1, 2, 3, 4, 5, 6, 7), " +
        "best AS (SELECT *, row_number() OVER (PARTITION BY et " +
        "ORDER BY n_inliers DESC, c) AS rk FROM scored) " +
        "SELECT et AS event_type, c AS cand, x1, x2, n AS n_days, " +
        "n_inliers, CAST(CAST(1000000 * (y2 - y1) AS HUGEINT) // " +
        "(x2 - x1) AS BIGINT) AS slope_micro " +
        "FROM best WHERE rk = 1 ORDER BY event_type"
    },
    "ts_sampen" -> {
      val c = OSQL.cents("value")
      s"WITH daily0 AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($c) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "daily AS (SELECT event_type, y, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dayi) AS BIGINT) AS r " +
        "FROM daily0), " +
        "st AS (SELECT event_type AS et, CAST(COUNT(*) AS BIGINT) AS n, " +
        "(MAX(y) - MIN(y)) // 5 AS rtol FROM daily GROUP BY 1), " +
        "starts AS (SELECT d.event_type AS et, d.r AS i, st.n, st.rtol " +
        "FROM daily d JOIN st ON d.event_type = st.et " +
        "WHERE d.r <= st.n - 2), " +
        "pr AS (SELECT a.et, a.i, b.i AS j, a.n, a.rtol, k.range AS k " +
        "FROM starts a JOIN starts b ON a.et = b.et AND a.i < b.i " +
        "CROSS JOIN range(3) k), " +
        "m AS (SELECT pr.et, pr.i, pr.j, MAX(pr.n) AS n, " +
        "MAX(pr.rtol) AS rtol, " +
        "MAX(CASE WHEN pr.k <= 1 THEN abs(da.y - db.y) END) AS d2, " +
        "MAX(abs(da.y - db.y)) AS d3 FROM pr " +
        "JOIN daily da ON pr.et = da.event_type AND pr.i + pr.k = da.r " +
        "JOIN daily db ON pr.et = db.event_type AND pr.j + pr.k = db.r " +
        "GROUP BY 1, 2, 3), " +
        "agg AS (SELECT et AS event_type, CAST(MAX(n) AS BIGINT) " +
        "AS n_days, CAST(MAX(rtol) AS BIGINT) AS rtol_cents, " +
        "CAST(SUM(CASE WHEN d2 <= rtol THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS b_count, " +
        "CAST(SUM(CASE WHEN d3 <= rtol THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS a_count FROM m GROUP BY 1) " +
        "SELECT event_type, n_days, rtol_cents, b_count, a_count, " +
        "CASE WHEN a_count > 0 AND b_count > 0 THEN " +
        "CAST(floor(1000000.0 * ln(CAST(b_count AS DOUBLE) / " +
        "CAST(a_count AS DOUBLE))) AS BIGINT) END AS sampen_micro_nats " +
        "FROM agg ORDER BY event_type"
    },
    "ts_matrix_profile" -> {
      val c = OSQL.cents("value")
      s"WITH daily0 AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($c) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "daily AS (SELECT event_type, y, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dayi) AS BIGINT) AS r, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nr " +
        "FROM daily0), " +
        "starts AS (SELECT event_type AS et, r AS i FROM daily " +
        "WHERE r <= nr - 6), " +
        "pairs AS (SELECT a.et, a.i, b.i AS j, k.range AS k " +
        "FROM starts a JOIN starts b ON a.et = b.et " +
        "AND abs(a.i - b.i) >= 4 CROSS JOIN range(7) k), " +
        "d2 AS (SELECT p.et, p.i, p.j, " +
        "CAST(SUM(CAST(da.y - db.y AS DECIMAL(38,0)) * (da.y - db.y)) " +
        "AS DECIMAL(38,0)) AS d2 FROM pairs p " +
        "JOIN daily da ON p.et = da.event_type AND p.i + p.k = da.r " +
        "JOIN daily db ON p.et = db.event_type AND p.j + p.k = db.r " +
        "GROUP BY 1, 2, 3), " +
        "mp AS (SELECT et, i, j, d2, row_number() OVER " +
        "(PARTITION BY et, i ORDER BY d2, j) AS rn FROM d2) " +
        "SELECT et AS event_type, i AS w_idx, j AS nn_idx, " +
        "CAST(d2 AS VARCHAR) AS mp_d2 " +
        "FROM mp WHERE rn = 1 ORDER BY event_type, w_idx"
    },
    "ts_error_budget" ->
      ("WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS dayi, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_errors FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n_events) AS BIGINT) AS total_n " +
        "FROM daily), " +
        "c AS (SELECT dayi, n_events, n_errors, " +
        "CAST(SUM(n_errors) OVER (ORDER BY dayi ROWS UNBOUNDED " +
        "PRECEDING) AS BIGINT) AS cum_err, total_n " +
        "FROM daily CROSS JOIN tot) " +
        "SELECT dayi, n_events, n_errors, " +
        "CAST((1000000 * n_errors) // n_events AS BIGINT) AS rate_micro, " +
        "CAST((100000000 * n_errors) // n_events AS BIGINT) " +
        "AS burn_micro, " +
        "CAST((100000000 * CAST(cum_err AS HUGEINT)) // total_n " +
        "AS BIGINT) AS consumed_micro, " +
        "CAST((100000000 * CAST(cum_err AS HUGEINT)) // total_n " +
        "AS BIGINT) > 1000000 AS exhausted " +
        "FROM c ORDER BY dayi"),
    "ts_ses_grid" ->
      ("WITH RECURSIVE daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS dayi, " +
        "CAST(COUNT(*) AS BIGINT) AS z FROM events GROUP BY 1, 2), " +
        "seq AS (SELECT event_type, dayi, z, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dayi) - 1 AS idx FROM daily), " +
        "al AS (SELECT unnest(generate_series(1, 9)) AS al), " +
        "sm(event_type, al, idx, q, sse) AS (" +
        "SELECT event_type, al, idx, 1000 * z, CAST(0 AS BIGINT) " +
        "FROM seq CROSS JOIN al WHERE idx = 0 " +
        "UNION ALL SELECT s.event_type, sm.al, s.idx, " +
        "(sm.al * 1000 * s.z + (10 - sm.al) * sm.q) // 10, " +
        "sm.sse + (1000 * s.z - sm.q) * (1000 * s.z - sm.q) " +
        "FROM sm JOIN seq s ON s.event_type = sm.event_type " +
        "AND s.idx = sm.idx + 1), " +
        "mx AS (SELECT event_type, MAX(idx) AS mi FROM seq GROUP BY 1), " +
        "fin AS (SELECT sm.event_type, CAST(sm.al AS BIGINT) " +
        "AS alpha_decile, CAST(mx.mi + 1 AS BIGINT) AS n_days, " +
        "CAST(sm.q AS BIGINT) AS level_milli, CAST(sm.sse AS BIGINT) " +
        "AS sse FROM sm JOIN mx ON sm.event_type = mx.event_type " +
        "AND sm.idx = mx.mi), " +
        "best AS (SELECT event_type, MIN(sse) AS best_sse FROM fin " +
        "GROUP BY 1) " +
        "SELECT fin.event_type, fin.alpha_decile, fin.n_days, " +
        "fin.level_milli, fin.sse, fin.sse = best.best_sse AS is_best " +
        "FROM fin JOIN best USING (event_type) ORDER BY 1, 2"),
    "ts_its" -> {
      val c = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS dayi, " +
        s"CAST(SUM($c) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT (MIN(dayi) + MAX(dayi) + 1) // 2 AS sd " +
        "FROM daily), " +
        "seg AS (SELECT event_type, " +
        "CASE WHEN dayi >= sd THEN 1 ELSE 0 END AS post, sd, " +
        "CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dayi) AS BIGINT) AS sx, " +
        "CAST(SUM(y) AS BIGINT) AS sy, " +
        "SUM(CAST(dayi AS HUGEINT) * dayi) AS sxx, " +
        "SUM(CAST(dayi AS HUGEINT) * y) AS sxy " +
        "FROM daily CROSS JOIN sp GROUP BY 1, 2, 3), " +
        "c0 AS (SELECT event_type, post, n, sx, sy, sd, " +
        "n * sxy - CAST(sx AS HUGEINT) * sy AS num, " +
        "n * sxx - CAST(sx AS HUGEINT) * sx AS den FROM seg), " +
        "f AS (SELECT event_type, post, n, " +
        "CAST((1000000 * num) // nullif(den, 0) AS BIGINT) " +
        "AS slope_micro, " +
        "CAST((1000000 * (CAST(sy AS HUGEINT) * den + " +
        "num * (n * sd - sx))) // nullif(n * den, 0) AS BIGINT) " +
        "AS pred_micro FROM c0) " +
        "SELECT p.event_type, p.n AS n_pre, q.n AS n_post, " +
        "p.slope_micro AS slope_pre_micro, " +
        "q.slope_micro AS slope_post_micro, " +
        "q.slope_micro - p.slope_micro AS delta_slope_micro, " +
        "q.pred_micro - p.pred_micro AS jump_micro " +
        "FROM f p JOIN f q ON p.event_type = q.event_type " +
        "AND p.post = 0 AND q.post = 1 ORDER BY 1"
    },
    "ts_croston" -> {
      val c = OSQL.cents("value")
      "WITH RECURSIVE daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS dayi, " +
        s"CAST(COUNT(*) AS BIGINT) AS z FROM events WHERE $c >= 9000 " +
        "GROUP BY 1, 2), " +
        "seq AS (SELECT event_type, dayi, z, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY dayi) - 1 AS idx FROM daily), " +
        "cr(event_type, idx, dayi, z, q, a) AS (" +
        "SELECT event_type, idx, dayi, z, 1000 * z, " +
        "CAST(NULL AS BIGINT) FROM seq WHERE idx = 0 " +
        "UNION ALL SELECT s.event_type, s.idx, s.dayi, s.z, " +
        "(20 * 1000 * s.z + 80 * cr.q) // 100, " +
        "CASE WHEN cr.a IS NULL THEN 1000 * (s.dayi - cr.dayi) " +
        "ELSE (20 * 1000 * (s.dayi - cr.dayi) + 80 * cr.a) // 100 END " +
        "FROM cr JOIN seq s ON s.event_type = cr.event_type " +
        "AND s.idx = cr.idx + 1) " +
        "SELECT event_type, dayi, z, CAST(q AS BIGINT) AS q_milli, " +
        "CAST(a AS BIGINT) AS a_milli, " +
        "CASE WHEN a IS NOT NULL THEN CAST((1000 * q) // a AS BIGINT) " +
        "END AS forecast_milli " +
        "FROM cr ORDER BY event_type, dayi"
    },
    "ts_weibull_fit" ->
      (s"WITH $survivalCtes, " +
        "lt AS (SELECT grp, dd - fd + 1 AS t FROM life WHERE died = 1), " +
        "wn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM lt " +
        "GROUP BY 1), " +
        "rk AS (SELECT grp, t, row_number() OVER (PARTITION BY grp " +
        "ORDER BY t) AS i FROM lt), " +
        "xy AS (SELECT rk.grp, " +
        "CAST(floor(1000000.0 * ln(CAST(t AS DOUBLE))) AS BIGINT) AS x, " +
        "CAST(floor(1000000.0 * ln(-ln(1.0 - " +
        "(CAST(i AS DOUBLE) - 0.3) / (CAST(wn.n AS DOUBLE) + 0.4)))) " +
        "AS BIGINT) AS y FROM rk JOIN wn USING (grp)), " +
        "st AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_failures, " +
        "CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy, " +
        "SUM(CAST(x AS HUGEINT) * x) AS sxx, " +
        "SUM(CAST(x AS HUGEINT) * y) AS sxy FROM xy GROUP BY 1), " +
        "fin AS (SELECT grp, n_failures, " +
        "CAST(sx // n_failures AS BIGINT) AS xbar_micro, " +
        "CAST(sy // n_failures AS BIGINT) AS ybar_micro, " +
        "CAST((1000000 * (n_failures * sxy - CAST(sx AS HUGEINT) * sy)) " +
        "// nullif(n_failures * sxx - CAST(sx AS HUGEINT) * sx, 0) " +
        "AS BIGINT) AS beta_micro FROM st) " +
        "SELECT grp, n_failures, xbar_micro, ybar_micro, beta_micro, " +
        "CAST(xbar_micro - (1000000 * ybar_micro) " +
        "// nullif(beta_micro, 0) AS BIGINT) AS ln_eta_micro " +
        "FROM fin ORDER BY grp"),
    "ts_snaive_mase" -> {
      val c = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($c) AS BIGINT) AS y FROM events GROUP BY 1, 2), " +
        "b AS (SELECT event_type, MIN(dayi) AS lo, MAX(dayi) AS hi " +
        "FROM daily GROUP BY 1), " +
        "grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS dayi " +
        "FROM b), " +
        "f AS (SELECT g.event_type, g.dayi, COALESCE(daily.y, 0) AS y " +
        "FROM grid g LEFT JOIN daily ON g.event_type = daily.event_type " +
        "AND g.dayi = daily.dayi), " +
        "l AS (SELECT event_type, dayi, y, " +
        "lag(y, 1) OVER (PARTITION BY event_type ORDER BY dayi) AS l1, " +
        "lag(y, 7) OVER (PARTITION BY event_type ORDER BY dayi) AS l7 " +
        "FROM f) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval, " +
        "CAST(SUM(abs(y - l7)) AS BIGINT) AS sae_snaive, " +
        "CAST(SUM(abs(y - l1)) AS BIGINT) AS sae_naive1, " +
        "CASE WHEN SUM(abs(y - l1)) > 0 THEN " +
        "CAST((1000000 * SUM(abs(y - l7))) // SUM(abs(y - l1)) AS BIGINT) " +
        "END AS mase_micro " +
        "FROM l WHERE l7 IS NOT NULL GROUP BY 1 ORDER BY 1"
    },
    "ts_attribution" -> {
      val vc = OSQL.cents("value")
      s"WITH b AS (SELECT user_id, ts, event_id, event_type, $vc AS vcent, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN " +
        "struct_pack(tus := epoch_us(ts), tt := event_type) END " +
        "IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_touch " +
        "FROM events), " +
        "p AS (SELECT CASE WHEN prev_touch IS NOT NULL AND " +
        "epoch_us(ts) - prev_touch.tus <= 3600000000 " +
        "THEN prev_touch.tt ELSE 'direct' END AS channel, vcent " +
        "FROM b WHERE event_type = 'purchase') " +
        "SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases, " +
        "CAST(SUM(vcent) AS BIGINT) AS attributed_cents " +
        "FROM p GROUP BY 1 ORDER BY channel"
    },
    "ts_entropy_rate" ->
      ("WITH b AS (SELECT event_type AS from_type, lead(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS to_type " +
        "FROM events), " +
        "tc AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM b WHERE to_type IS NOT NULL GROUP BY 1, 2), " +
        "rt AS (SELECT from_type, to_type, n, " +
        "SUM(n) OVER (PARTITION BY from_type) AS row_total FROM tc), " +
        "tm AS (SELECT from_type, row_total, " +
        "CAST(floor(CAST(n AS DOUBLE) / row_total * " +
        "ln(CAST(n AS DOUBLE) / row_total) * -1000000.0) AS BIGINT) " +
        "AS term_micro FROM rt) " +
        "SELECT from_type, CAST(COUNT(*) AS BIGINT) AS n_successors, " +
        "CAST(MAX(row_total) AS BIGINT) AS n_transitions, " +
        "CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 AS entropy_rate_nats " +
        "FROM tm GROUP BY 1 ORDER BY from_type"),
    "ts_foster_stuart" -> {
      val vc = OSQL.cents("value")
      s"WITH b AS (SELECT user_id, $vc AS vc, " +
        s"MAX($vc) OVER wp AS pmax, MIN($vc) OVER wp AS pmin " +
        "FROM events WINDOW wp AS (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND 1 PRECEDING)), " +
        "ps AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN pmax IS NOT NULL AND vc > pmax THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_up_records, " +
        "CAST(SUM(CASE WHEN pmin IS NOT NULL AND vc < pmin THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_lo_records FROM b GROUP BY 1) " +
        "SELECT user_id, n, n_up_records, n_lo_records, " +
        "n_up_records - n_lo_records AS d_stat, " +
        "n_up_records + n_lo_records AS s_stat FROM ps ORDER BY user_id"
    },
    "ts_page_hinkley" -> {
      val vc = OSQL.cents("value")
      s"WITH b AS (SELECT event_type, ts, event_id, $vc AS vc FROM events), " +
        "o1 AS (SELECT event_type, ts, event_id, vc, " +
        "CAST(row_number() OVER w AS BIGINT) AS i, " +
        "CAST(SUM(vc) OVER w AS BIGINT) AS sx FROM b " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "o2 AS (SELECT event_type, ts, event_id, 1000000 * vc - " +
        "CAST((1000000 * CAST(sx AS HUGEINT)) // i AS BIGINT) AS term " +
        "FROM o1), " +
        "o3 AS (SELECT event_type, ts, event_id, " +
        "CAST(SUM(term) OVER w AS BIGINT) AS m FROM o2 " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "o4 AS (SELECT event_type, ts, m - MIN(m) OVER w AS exc FROM o3 " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN exc > 300000000000 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_alarms, " +
        "MIN(CASE WHEN exc > 300000000000 THEN epoch_us(ts) END) " +
        "AS first_alarm_us, " +
        "MAX(exc) AS max_excursion_micro " +
        "FROM o4 GROUP BY 1 ORDER BY event_type"
    },
    "ts_kaplan_meier" ->
      (s"WITH $survivalCtes, " +
        "t AS (SELECT grp, day, n_at_risk, n_deaths, " +
        "CASE WHEN n_at_risk > n_deaths THEN CAST(floor(1000000.0 * " +
        "ln(CAST(n_at_risk - n_deaths AS DOUBLE) / " +
        "CAST(n_at_risk AS DOUBLE))) AS BIGINT) END AS term " +
        "FROM risk0 WHERE n_deaths > 0), " +
        "c AS (SELECT grp, day, n_at_risk, n_deaths, " +
        "CAST(SUM(term) OVER w AS BIGINT) AS ls, " +
        "MAX(CASE WHEN term IS NULL THEN 1 ELSE 0 END) OVER w AS dead " +
        "FROM t WINDOW w AS (PARTITION BY grp ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT grp, day, n_at_risk, n_deaths, " +
        "CASE WHEN dead = 1 THEN NULL ELSE ls END AS log_s_micro, " +
        "dead = 1 AS survival_zero " +
        "FROM c ORDER BY grp, day"),
    "ts_isotonic" -> {
      val vc = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS dayi, " +
        "CAST(COUNT(*) AS BIGINT) AS c, " +
        s"CAST(SUM($vc) AS BIGINT) AS sv FROM events GROUP BY 1, 2), " +
        "y0 AS (SELECT event_type, dayi, " +
        "CAST((1000000 * CAST(sv AS HUGEINT)) // c AS BIGINT) AS y " +
        "FROM daily), " +
        "ix AS (SELECT event_type, dayi, y, " +
        "CAST(row_number() OVER w AS BIGINT) AS i, " +
        "CAST(SUM(y) OVER w AS BIGINT) AS ps FROM y0 " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY dayi " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "p AS (SELECT a.event_type, a.i AS j, b.i AS k, " +
        "CAST((b.ps - (a.ps - a.y)) // (b.i - a.i + 1) AS BIGINT) AS m " +
        "FROM ix a JOIN ix b ON a.event_type = b.event_type " +
        "AND a.i <= b.i), " +
        "sm AS (SELECT event_type, j, k, CAST(MIN(m) OVER " +
        "(PARTITION BY event_type, j ORDER BY k DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) " +
        "AS sm FROM p), " +
        "fit AS (SELECT event_type, k AS i, CAST(MAX(sm) AS BIGINT) " +
        "AS fitted_micro FROM sm GROUP BY 1, 2) " +
        "SELECT ix.event_type, ix.dayi AS day, ix.y AS y_micro, " +
        "fit.fitted_micro FROM ix JOIN fit ON " +
        "ix.event_type = fit.event_type AND ix.i = fit.i " +
        "ORDER BY 1, 2"
    },
    "ts_lorenz_interday" ->
      ("WITH daily AS (SELECT event_type, " +
        "epoch_us(ts) // 86400000000 AS dayi, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "r AS (SELECT event_type, c, CAST(row_number() OVER " +
        "(PARTITION BY event_type ORDER BY c, dayi) AS BIGINT) AS r " +
        "FROM daily), " +
        "g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(c) AS BIGINT) AS total_events, " +
        "CAST(SUM(r * c) AS BIGINT) AS rc FROM r GROUP BY 1) " +
        "SELECT event_type, n_days, total_events, " +
        "CAST((1000000 * (2 * rc - (n_days + 1) * total_events)) " +
        "// (n_days * total_events) AS BIGINT) AS gini_micro " +
        "FROM g ORDER BY event_type"),
    "ts_prepost" -> {
      val vc = OSQL.cents("value")
      val np = "CAST(n_pre AS DOUBLE)"; val nq = "CAST(n_post AS DOUBLE)"
      val mp = s"CAST(s_pre AS DOUBLE) / $np"
      val mq = s"CAST(s_post AS DOUBLE) / $nq"
      val vp = s"(CAST(ss_pre AS DOUBLE) / $np - ($mp) * ($mp)) * $np / ($np - 1.0)"
      val vq = s"(CAST(ss_post AS DOUBLE) / $nq - ($mq) * ($mq)) * $nq / ($nq - 1.0)"
      "WITH mid AS (SELECT CAST((MIN(epoch_us(ts)) + MAX(epoch_us(ts))) " +
        "// 2 AS BIGINT) AS mid_us FROM events), " +
        s"b AS (SELECT event_type, $vc AS vc, " +
        "CASE WHEN epoch_us(ts) > mid_us THEN 1 ELSE 0 END AS post " +
        "FROM events CROSS JOIN mid), " +
        "ps AS (SELECT event_type, " +
        "CAST(SUM(CASE WHEN post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre, " +
        "CAST(SUM(CASE WHEN post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post, " +
        "SUM(CASE WHEN post = 0 THEN vc ELSE 0 END) AS s_pre, " +
        "SUM(CASE WHEN post = 1 THEN vc ELSE 0 END) AS s_post, " +
        "SUM(CASE WHEN post = 0 THEN vc * vc ELSE 0 END) AS ss_pre, " +
        "SUM(CASE WHEN post = 1 THEN vc * vc ELSE 0 END) AS ss_post " +
        "FROM b GROUP BY 1) " +
        "SELECT event_type, n_pre, n_post, " +
        "CAST((1000000 * s_pre) // nullif(n_pre, 0) AS BIGINT) " +
        "AS mean_pre_micro, " +
        "CAST((1000000 * s_post) // nullif(n_post, 0) AS BIGINT) " +
        "AS mean_post_micro, " +
        s"(($mq) - ($mp)) / sqrt(($vp) / $np + ($vq) / $nq) AS welch_t " +
        "FROM ps ORDER BY event_type"
    },
    "ts_turning_points" -> {
      val vc = OSQL.cents("value")
      s"WITH b AS (SELECT user_id, $vc AS vc, " +
        "lag(" + vc + ") OVER w AS prev, lead(" + vc + ") OVER w AS nxt " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "ps AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL AND " +
        "(vc - prev) * (nxt - vc) < 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_turning FROM b GROUP BY 1) " +
        "SELECT user_id, n, n_turning, " +
        "CAST((2000000 * (n - 2)) // 3 AS BIGINT) AS expected_micro, " +
        "(CAST(n_turning AS DOUBLE) - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0) " +
        "/ sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0) AS z " +
        "FROM ps ORDER BY user_id"
    },
    "ts_vn_rank" -> {
      val vc = OSQL.cents("value")
      s"WITH b AS (SELECT user_id, ts, event_id, $vc AS vc FROM events), " +
        "r AS (SELECT user_id, ts, event_id, " +
        "2 * CAST(rank() OVER (PARTITION BY user_id ORDER BY vc) AS BIGINT) " +
        "+ CAST(COUNT(*) OVER (PARTITION BY user_id, vc) AS BIGINT) - 1 " +
        "AS r2 FROM b), " +
        "dr AS (SELECT user_id, r2, r2 - lag(r2) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS d FROM r), " +
        "ps AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(d * d) AS BIGINT) AS nm2, " +
        "CAST(SUM(r2 * r2) AS BIGINT) AS ss2 FROM dr GROUP BY 1) " +
        "SELECT user_id, n, nm2, " +
        "CAST(ss2 - n * (n + 1) * (n + 1) AS BIGINT) AS d2, " +
        "CAST((1000000 * CAST(nm2 AS HUGEINT)) // " +
        "nullif(ss2 - n * (n + 1) * (n + 1), 0) " +
        "AS BIGINT) AS rvn_micro FROM ps ORDER BY user_id"
    },
    "ts_cpk" -> {
      val vc = OSQL.cents("value")
      s"WITH ps AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(SUM($vc) AS DOUBLE) AS sx, " +
        s"CAST(SUM(CAST($vc AS DECIMAL(38,0)) * $vc) AS DOUBLE) AS sxx, " +
        s"CAST(SUM(CASE WHEN $vc < 0 OR $vc > 30000 THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_out FROM events GROUP BY 1) " +
        "SELECT event_type, n, n_out, " +
        "least(30000.0 - sx / CAST(n AS DOUBLE), sx / CAST(n AS DOUBLE) - 0.0) " +
        "/ (3.0 * sqrt(sxx / CAST(n AS DOUBLE) - " +
        "(sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))) AS cpk " +
        "FROM ps ORDER BY event_type"
    },
    "ts_completeness" ->
      ("WITH hourly AS (SELECT event_type, " +
        "epoch_us(ts) // 3600000000 AS hidx, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT et, unnest(range(h0, h1 + 1)) AS gh FROM " +
        "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
        "FROM hourly GROUP BY 1)), " +
        "dense AS (SELECT et, gh, COALESCE(c, 0) AS c FROM grid " +
        "LEFT JOIN hourly ON et = event_type AND gh = hidx), " +
        "outg AS (SELECT et AS et2, CAST(MAX(len) AS BIGINT) " +
        "AS longest_outage_h FROM (SELECT et, grp, COUNT(*) AS len FROM " +
        "(SELECT et, gh - row_number() OVER " +
        "(PARTITION BY et ORDER BY gh) AS grp FROM dense WHERE c = 0) " +
        "GROUP BY 1, 2) GROUP BY 1), " +
        "ag AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_hours, " +
        "CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS covered_hours FROM dense GROUP BY 1) " +
        "SELECT et AS event_type, n_hours, covered_hours, " +
        "(1000000 * covered_hours) // n_hours AS completeness_micro, " +
        "COALESCE(longest_outage_h, 0) AS longest_outage_h " +
        "FROM ag LEFT JOIN outg ON et = et2 ORDER BY event_type"),
    "ts_dispersion" ->
      ("WITH hourly AS (SELECT event_type, " +
        "epoch_us(ts) // 3600000000 AS hidx, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT et, unnest(range(h0, h1 + 1)) AS gh FROM " +
        "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
        "FROM hourly GROUP BY 1)), " +
        "dense AS (SELECT et, COALESCE(c, 0) AS c FROM grid " +
        "LEFT JOIN hourly ON et = event_type AND gh = hidx), " +
        "ps AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_hours, " +
        "CAST(SUM(c) AS BIGINT) AS total, " +
        "SUM(CAST(c AS HUGEINT) * c) AS scc FROM dense GROUP BY 1) " +
        "SELECT et AS event_type, n_hours, total, " +
        "CAST(n_hours - 1 AS BIGINT) AS df, " +
        "CAST((1000000 * (CAST(n_hours AS HUGEINT) * scc - " +
        "CAST(total AS HUGEINT) * total)) // CAST(total AS HUGEINT) " +
        "AS BIGINT) AS chi2_micro FROM ps ORDER BY event_type"),
    "ts_pot_exceedance" -> {
      val vc = OSQL.cents("value")
      s"WITH cnt AS (SELECT event_type AS et2, $vc AS vc, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), " +
        "cc AS (SELECT et2, vc, " +
        "SUM(c) OVER (PARTITION BY et2 ORDER BY vc) AS cum, " +
        "SUM(c) OVER (PARTITION BY et2) AS n FROM cnt), " +
        "thr AS (SELECT et2, CAST(MIN(vc) AS BIGINT) AS u_c FROM cc " +
        "WHERE cum * 20 >= n * 19 GROUP BY 1), " +
        s"ex AS (SELECT event_type, $vc AS vc, u_c, epoch_us(ts) AS us, " +
        "ts, event_id FROM events JOIN thr ON event_type = et2 " +
        s"WHERE $vc > u_c), " +
        "dc AS (SELECT event_type, vc, u_c, " +
        "SUM(newc) OVER (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid " +
        "FROM (SELECT *, CASE WHEN lag(us) OVER " +
        "(PARTITION BY event_type ORDER BY ts, event_id) IS NULL OR " +
        "us - lag(us) OVER (PARTITION BY event_type " +
        "ORDER BY ts, event_id) > 3600000000 THEN 1 ELSE 0 END AS newc " +
        "FROM ex)), " +
        "cl AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_clusters, " +
        "CAST(MAX(csize) AS BIGINT) AS max_cluster FROM " +
        "(SELECT event_type, cid, CAST(COUNT(*) AS BIGINT) AS csize " +
        "FROM dc GROUP BY 1, 2) GROUP BY 1), " +
        "ag AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_exceed, " +
        "CAST(MAX(u_c) AS BIGINT) AS u_c, " +
        "CAST(SUM(vc - u_c) AS BIGINT) AS sum_excess_c FROM dc GROUP BY 1) " +
        "SELECT ag.event_type, u_c, n_exceed, n_clusters, max_cluster, " +
        "CAST((1000000 * CAST(sum_excess_c AS HUGEINT)) // n_exceed " +
        "AS BIGINT) AS mean_excess_microcents " +
        "FROM ag JOIN cl ON ag.event_type = cl.event_type " +
        "ORDER BY ag.event_type"
    },
    "ts_calendar_effects" -> {
      val vc = OSQL.cents("value")
      s"WITH bd AS (SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow, " +
        s"CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM($vc) AS BIGINT) AS sx " +
        "FROM events GROUP BY 1), " +
        "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, " +
        "CAST(SUM(sx) AS BIGINT) AS st FROM bd) " +
        "SELECT dow, n, CAST(sx AS DOUBLE) / (100.0 * n) AS mean, " +
        "CAST(st AS DOUBLE) / (100.0 * nt) AS grand_mean, " +
        "CAST(sx AS DOUBLE) / (100.0 * n) - " +
        "CAST(st AS DOUBLE) / (100.0 * nt) AS effect " +
        "FROM bd CROSS JOIN tot ORDER BY dow"
    },
    "ts_backtest_sma" ->
      (s"WITH $dailyBarCtes, " +
        "sm AS (SELECT event_type, day, close_c, " +
        "CAST(row_number() OVER w0 AS BIGINT) AS rn, " +
        "CAST(SUM(close_c) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS s5, " +
        "CAST(SUM(close_c) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT) AS s20 " +
        "FROM bars " +
        "WINDOW w0 AS (PARTITION BY event_type ORDER BY day)), " +
        "sg AS (SELECT event_type, day, close_c, rn, " +
        "CAST(rn >= 20 AND 4 * s5 > s20 AS BIGINT) AS sig FROM sm), " +
        "hl AS (SELECT event_type, day, close_c, rn, " +
        "lag(sig) OVER w1 AS held, lag(close_c) OVER w1 AS prev_c " +
        "FROM sg WINDOW w1 AS (PARTITION BY event_type ORDER BY day)), " +
        "lr AS (SELECT event_type, held, " +
        "CAST(floor(1000000.0 * ln(CAST(close_c AS DOUBLE) / prev_c)) " +
        "AS BIGINT) AS lr_micro FROM hl WHERE rn > 20) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(SUM(held) AS BIGINT) AS n_held, " +
        "CAST(SUM(CASE WHEN held = 1 THEN lr_micro ELSE 0 END) AS BIGINT) " +
        "AS strat_logret_micro, " +
        "CAST(SUM(lr_micro) AS BIGINT) AS bh_logret_micro " +
        "FROM lr GROUP BY 1 ORDER BY event_type"),
    "ts_oee" ->
      ("WITH b AS (SELECT user_id, event_type, epoch_us(ts) AS us, " +
        "lag(epoch_us(ts)) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS prev FROM events), " +
        "g AS (SELECT user_id, event_type, us, " +
        "CASE WHEN prev IS NOT NULL AND us - prev <= 1800000000 " +
        "THEN us - prev ELSE 0 END AS gap FROM b), " +
        "pu AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_err, " +
        "CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us, " +
        "CAST(SUM(gap) AS BIGINT) AS active_us FROM g GROUP BY 1), " +
        "pf AS (SELECT * FROM pu WHERE n >= 2 AND span_us > 0 " +
        "AND active_us > 0), " +
        "fl AS (SELECT CAST(SUM(n) AS BIGINT) AS fn, " +
        "CAST(SUM(active_us) AS BIGINT) AS fa FROM pf), " +
        "sc AS (SELECT user_id, n, " +
        "(1000000 * active_us) // span_us AS avail_micro, " +
        "least(1000000, CAST((1000000 * CAST(n AS HUGEINT) * fa) // " +
        "(CAST(active_us AS HUGEINT) * fn) AS BIGINT)) AS perf_micro, " +
        "(1000000 * (n - n_err)) // n AS qual_micro " +
        "FROM pf CROSS JOIN fl) " +
        "SELECT user_id, n, avail_micro, perf_micro, qual_micro, " +
        "(((avail_micro * perf_micro) // 1000000) * qual_micro) " +
        "// 1000000 AS oee_micro FROM sc ORDER BY user_id"),
    "ts_record_highs" -> {
      val vc = OSQL.cents("value")
      s"WITH r AS (SELECT event_type, ts, $vc AS vc, " +
        s"MAX($vc) OVER (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax " +
        "FROM events), " +
        "f AS (SELECT event_type, ts, vc, " +
        "CAST(pmax IS NULL OR vc > pmax AS BIGINT) AS is_rec FROM r) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(is_rec) AS BIGINT) AS n_records, " +
        "CAST(MAX(CASE WHEN is_rec = 1 THEN epoch_us(ts) END) AS BIGINT) " +
        "AS last_record_us, CAST(MAX(vc) AS BIGINT) AS record_value " +
        "FROM f GROUP BY 1 ORDER BY event_type"
    },
    "ts_features" -> {
      val vc = OSQL.cents("value")
      s"WITH base AS (SELECT user_id, ts, event_id, $vc AS vc, " +
        "CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS nn, " +
        s"CAST(SUM($vc) OVER (PARTITION BY user_id) AS BIGINT) AS ss, " +
        s"lag($vc) OVER w AS xl, " +
        "CAST(row_number() OVER w AS BIGINT) AS rn " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "feats AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(vc) AS BIGINT) AS sum_c, " +
        "CAST(MIN(vc) AS BIGINT) AS min_c, " +
        "CAST(MAX(vc) AS BIGINT) AS max_c, " +
        "CAST(SUM(vc) AS DOUBLE) / (100.0 * COUNT(*)) AS mean, " +
        "SUM(CAST(vc AS HUGEINT) * vc) AS sxx, " +
        "SUM(CASE WHEN xl IS NOT NULL THEN " +
        "CAST(vc - xl AS HUGEINT) * (vc - xl) END) AS sd2, " +
        "CAST(SUM(CASE WHEN xl IS NOT NULL AND " +
        "CAST(nn * vc - ss AS HUGEINT) * (nn * xl - ss) < 0 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_mean_crossings " +
        "FROM base GROUP BY 1), " +
        "ab AS (SELECT user_id, rn, CAST(row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn2 " +
        "FROM base WHERE nn * vc > ss), " +
        "runs AS (SELECT user_id AS ru, " +
        "CAST(MAX(len) AS BIGINT) AS longest_above_run FROM " +
        "(SELECT user_id, rn - rn2 AS grp, COUNT(*) AS len FROM ab " +
        "GROUP BY 1, 2) GROUP BY 1) " +
        "SELECT user_id, n, sum_c, min_c, max_c, mean, " +
        "CASE WHEN n >= 2 THEN " +
        "(CAST(sxx AS DOUBLE) / 10000.0 - (CAST(sum_c AS DOUBLE) / " +
        "100.0) * (CAST(sum_c AS DOUBLE) / 100.0) / n) / (n - 1.0) " +
        "END AS variance, " +
        "CASE WHEN CAST(n AS HUGEINT) * sxx - " +
        "CAST(sum_c AS HUGEINT) * sum_c <> 0 THEN " +
        "CAST((1000000 * CAST(n AS HUGEINT) * sd2) // " +
        "(CAST(n AS HUGEINT) * sxx - CAST(sum_c AS HUGEINT) * sum_c) " +
        "AS BIGINT) END AS dw_micro, " +
        "n_mean_crossings, " +
        "COALESCE(longest_above_run, 0) AS longest_above_run " +
        "FROM feats LEFT JOIN runs ON user_id = ru ORDER BY user_id"
    },
    "ts_durbin_watson" -> {
      val vc = OSQL.cents("value")
      s"WITH lg AS (SELECT event_type, $vc AS vc, " +
        s"lag($vc) OVER (PARTITION BY event_type ORDER BY ts, event_id) " +
        "AS xl FROM events), " +
        "ps AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(vc) AS BIGINT) AS sx, " +
        "SUM(CAST(vc AS HUGEINT) * vc) AS sxx, " +
        "SUM(CASE WHEN xl IS NOT NULL THEN " +
        "CAST((vc - xl) AS HUGEINT) * (vc - xl) END) AS sd2 " +
        "FROM lg GROUP BY 1) " +
        "SELECT event_type, n, " +
        "CAST((1000000 * CAST(n AS HUGEINT) * sd2) // " +
        "(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx) AS BIGINT) " +
        "AS dw_micro FROM ps ORDER BY event_type"
    },
    "ts_cointegration" -> {
      val vc = OSQL.cents("value")
      s"WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS dayi, " +
        s"CAST(SUM(CASE WHEN event_type = 'click' THEN $vc ELSE 0 END) " +
        "AS BIGINT) AS xc, " +
        s"CAST(SUM(CASE WHEN event_type = 'purchase' THEN $vc ELSE 0 END) " +
        "AS BIGINT) AS yc FROM events " +
        "WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "grid AS (SELECT unnest(range((SELECT MIN(dayi) FROM daily), " +
        "(SELECT MAX(dayi) FROM daily) + 1)) AS gd), " +
        "filled AS (SELECT gd, COALESCE(xc, 0) AS x, COALESCE(yc, 0) AS y " +
        "FROM grid LEFT JOIN daily ON gd = dayi), " +
        "ps1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
        "CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx, " +
        "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy FROM filled), " +
        "lg AS (SELECT x, y, lag(x) OVER (ORDER BY gd) AS xl, " +
        "lag(y) OVER (ORDER BY gd) AS yl FROM filled), " +
        "lagged AS (SELECT * FROM lg WHERE xl IS NOT NULL), " +
        "ps2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m, " +
        "CAST(SUM(x) AS DOUBLE) AS sx1, CAST(SUM(y) AS DOUBLE) AS sy1, " +
        "CAST(SUM(xl) AS DOUBLE) AS sxl, CAST(SUM(yl) AS DOUBLE) AS syl, " +
        "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx1, " +
        "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy1, " +
        "CAST(SUM(CAST(xl AS HUGEINT) * xl) AS DOUBLE) AS sxlxl, " +
        "CAST(SUM(CAST(yl AS HUGEINT) * yl) AS DOUBLE) AS sylyl, " +
        "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy1, " +
        "CAST(SUM(CAST(xl AS HUGEINT) * yl) AS DOUBLE) AS sxlyl, " +
        "CAST(SUM(CAST(y AS HUGEINT) * yl) AS DOUBLE) AS syyl, " +
        "CAST(SUM(CAST(y AS HUGEINT) * xl) AS DOUBLE) AS syxl, " +
        "CAST(SUM(CAST(x AS HUGEINT) * yl) AS DOUBLE) AS sxyl, " +
        "CAST(SUM(CAST(x AS HUGEINT) * xl) AS DOUBLE) AS sxxl " +
        "FROM lagged), " +
        "c1 AS (SELECT *, " +
        "(n * sxy - sx * sy) / (n * sxx - sx * sx) AS b " +
        "FROM ps1 CROSS JOIN ps2), " +
        "c2 AS (SELECT *, (sy - b * sx) / n AS a FROM c1), " +
        "c3 AS (SELECT *, " +
        "syyl - a * (sy1 + syl) + a * a * m - b * (syxl + sxyl) + " +
        "a * b * (sx1 + sxl) + b * b * sxxl AS see_l, " +
        "sylyl - 2.0 * a * syl + a * a * m - 2.0 * b * sxlyl + " +
        "2.0 * a * b * sxl + b * b * sxlxl AS sll, " +
        "syy1 - 2.0 * a * sy1 + a * a * m - 2.0 * b * sxy1 + " +
        "2.0 * a * b * sx1 + b * b * sxx1 AS scc FROM c2), " +
        "c4 AS (SELECT *, (see_l - sll) / sll AS beta FROM c3), " +
        "c5 AS (SELECT *, (scc - 2.0 * see_l + sll) - " +
        "beta * (see_l - sll) AS rss FROM c4) " +
        "SELECT CAST(n AS BIGINT) AS n_days, CAST(m AS BIGINT) AS n_pairs, " +
        "b AS b_coint, a AS a_coint, beta AS beta_adf, " +
        "beta / sqrt(rss / (m - 1.0) / sll) AS t_adf FROM c5"
    },
    "ts_cusum_alarm" -> cusumAlarmSql,
    "ts_variance_ratio" -> {
      val vc = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($vc) AS BIGINT) AS xc FROM events " +
        "GROUP BY 1, 2), " +
        "grid AS (SELECT et, unnest(range(d0, d1 + 1)) AS gd FROM " +
        "(SELECT event_type AS et, MIN(dayi) AS d0, MAX(dayi) AS d1 " +
        "FROM daily GROUP BY 1)), " +
        "dense AS (SELECT et, gd, COALESCE(xc, 0) AS x FROM grid " +
        "LEFT JOIN daily ON et = event_type AND gd = dayi), " +
        "lagged AS (SELECT et, " +
        "x - lag(x, 1) OVER (PARTITION BY et ORDER BY gd) AS d1v, " +
        "x - lag(x, 5) OVER (PARTITION BY et ORDER BY gd) AS dqv " +
        "FROM dense), " +
        "ps AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "CAST(COUNT(d1v) AS DOUBLE) AS n1, " +
        "CAST(SUM(d1v) AS DOUBLE) AS s1, " +
        "CAST(SUM(CAST(d1v AS HUGEINT) * d1v) AS DOUBLE) AS q1, " +
        "CAST(COUNT(dqv) AS DOUBLE) AS nq, " +
        "CAST(SUM(dqv) AS DOUBLE) AS sq, " +
        "CAST(SUM(CAST(dqv AS HUGEINT) * dqv) AS DOUBLE) AS qq " +
        "FROM lagged GROUP BY 1), " +
        "v AS (SELECT et, n_days, n1, nq, " +
        "(q1 - s1 * s1 / n1) / n1 AS var1, " +
        "(qq - sq * sq / nq) / nq AS varq FROM ps) " +
        "SELECT et AS event_type, n_days, CAST(n1 AS BIGINT) AS n_diff1, " +
        "CAST(nq AS BIGINT) AS n_diffq, var1, varq, " +
        "varq / (5.0 * var1) AS vr FROM v ORDER BY event_type"
    },
    "ts_pettitt" -> {
      val vc = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($vc) AS BIGINT) AS xc FROM events " +
        "GROUP BY 1, 2), " +
        "vk AS (SELECT a.event_type, a.dayi, " +
        "CAST(SUM(sign(a.xc - b.xc)) AS BIGINT) AS vk " +
        "FROM daily a JOIN daily b ON a.event_type = b.event_type " +
        "AND a.dayi <> b.dayi GROUP BY 1, 2), " +
        "u AS (SELECT event_type, dayi, " +
        "SUM(vk) OVER (PARTITION BY event_type ORDER BY dayi) AS u, " +
        "CAST(row_number() OVER (PARTITION BY event_type ORDER BY dayi) " +
        "AS BIGINT) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn " +
        "FROM vk), " +
        "rk AS (SELECT event_type, dayi, nn, CAST(abs(u) AS BIGINT) AS k, " +
        "row_number() OVER (PARTITION BY event_type " +
        "ORDER BY abs(u) DESC, dayi ASC) AS pick " +
        "FROM u WHERE rn < nn) " +
        "SELECT event_type, nn AS n_days, dayi AS cp_day, k AS k_stat, " +
        "-6.0 * CAST(k AS DOUBLE) * k / " +
        "(CAST(nn AS DOUBLE) * nn * nn + CAST(nn AS DOUBLE) * nn) " +
        "AS log_p_half FROM rk WHERE pick = 1 ORDER BY event_type"
    },
    "ts_hampel" -> {
      val vc = OSQL.cents("value")
      s"WITH base AS (SELECT user_id, ts, event_id, $vc AS vc " +
        "FROM events), " +
        "wn AS (SELECT user_id, ts, event_id, vc, " +
        "CAST(row_number() OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS rn, " +
        "list_sort(list(vc) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "AS win FROM base), " +
        "md AS (SELECT user_id, ts, event_id, vc, win, win[4] AS med7 " +
        "FROM wn WHERE rn >= 7), " +
        "dv AS (SELECT user_id, ts, event_id, vc, med7, " +
        "list_sort(list_transform(win, x -> abs(x - med7)))[4] AS mad7 " +
        "FROM md) " +
        "SELECT user_id, ts, event_id, vc, med7, mad7, " +
        "abs(vc - med7) * 10000 > 44478 * mad7 AS is_outlier " +
        "FROM dv ORDER BY user_id, ts, event_id"
    },
    "ts_runs_test" -> {
      val vc = OSQL.cents("value")
      val n1d = "CAST(n1 AS DOUBLE)"; val n2d = "CAST(n2 AS DOUBLE)"
      val mu = s"2.0 * $n1d * $n2d / ($n1d + $n2d) + 1.0"
      val va = s"2.0 * $n1d * $n2d * (2.0 * $n1d * $n2d - $n1d - $n2d) / " +
        s"(($n1d + $n2d) * ($n1d + $n2d) * ($n1d + $n2d - 1.0))"
      s"WITH r AS (SELECT event_type, $vc AS vc, " +
        s"CAST(row_number() OVER (PARTITION BY event_type ORDER BY $vc) " +
        "AS BIGINT) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn, " +
        "ts, event_id FROM events), " +
        "md AS (SELECT event_type AS mt, CAST(SUM(CASE WHEN " +
        "rn = (nn + 1) // 2 OR rn = nn // 2 + 1 THEN " +
        "CASE WHEN nn % 2 = 1 THEN vc * 2 ELSE vc END ELSE 0 END) " +
        "AS BIGINT) AS med2 FROM r GROUP BY 1), " +
        "sd AS (SELECT event_type, ts, event_id, " +
        "CAST(vc * 2 > med2 AS BIGINT) AS side FROM r " +
        "JOIN md ON event_type = mt WHERE vc * 2 <> med2), " +
        "ch AS (SELECT event_type, side, CASE WHEN lag(side) OVER " +
        "(PARTITION BY event_type ORDER BY ts, event_id) IS NULL " +
        "OR lag(side) OVER (PARTITION BY event_type ORDER BY ts, event_id) " +
        "<> side THEN 1 ELSE 0 END AS chg FROM sd), " +
        "ps AS (SELECT event_type, CAST(SUM(chg) AS BIGINT) AS runs, " +
        "CAST(SUM(side) AS BIGINT) AS n1, " +
        "CAST(SUM(1 - side) AS BIGINT) AS n2 FROM ch GROUP BY 1) " +
        "SELECT event_type, runs, n1, n2, " +
        s"(CAST(runs AS DOUBLE) - ($mu)) / sqrt($va) AS z " +
        "FROM ps ORDER BY event_type"
    },
    "ts_rainflow_ranges" -> {
      val vc = OSQL.cents("value")
      s"WITH base AS (SELECT user_id, ts, event_id, $vc AS vc FROM events), " +
        "tp AS (SELECT user_id, ts, event_id, vc FROM (SELECT *, " +
        "lag(vc) OVER w AS prev, lead(vc) OVER w AS nxt FROM base " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "WHERE prev IS NULL OR nxt IS NULL " +
        "OR (vc - prev) * (nxt - vc) < 0), " +
        "rg AS (SELECT abs(vc - pv) AS range_c FROM (SELECT vc, " +
        "lag(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv " +
        "FROM tp) WHERE pv IS NOT NULL) " +
        "SELECT CAST(CASE WHEN range_c = 0 THEN 0 WHEN range_c < 100 THEN 1 " +
        "WHEN range_c < 1000 THEN 2 WHEN range_c < 10000 THEN 3 " +
        "ELSE 4 END AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n_ranges, " +
        "MIN(range_c) AS min_c, MAX(range_c) AS max_c " +
        "FROM rg GROUP BY 1 ORDER BY bin"
    },
    "ts_spc_rules" -> {
      val vc = OSQL.cents("value")
      s"WITH st AS (SELECT event_type AS t2, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(SUM($vc) AS BIGINT) AS sx, " +
        s"CAST(SUM(CAST($vc AS HUGEINT) * $vc) AS HUGEINT) AS sxx " +
        "FROM events GROUP BY 1), " +
        s"base AS (SELECT event_type, ts, event_id, $vc AS vc, n, sx, sxx " +
        "FROM events JOIN st ON event_type = t2), " +
        "fl AS (SELECT event_type, ts, event_id, " +
        "CAST(n AS HUGEINT) * vc - sx AS dd, " +
        "CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vr " +
        "FROM base), " +
        "fb AS (SELECT event_type, ts, event_id, " +
        "CAST(dd > 0 AS BIGINT) AS above, CAST(dd < 0 AS BIGINT) AS below, " +
        "CAST(dd * dd > vr AS BIGINT) AS b1, " +
        "CAST(dd * dd > 4 * vr AS BIGINT) AS b2, " +
        "CAST(dd * dd > 9 * vr AS BIGINT) AS b3 FROM fl), " +
        "rl AS (SELECT event_type, b3 AS r1, " +
        "CAST(SUM(b2 * above) OVER w3 >= 2 OR SUM(b2 * below) OVER w3 >= 2 " +
        "AS BIGINT) AS r2, " +
        "CAST(SUM(b1 * above) OVER w5 >= 4 OR SUM(b1 * below) OVER w5 >= 4 " +
        "AS BIGINT) AS r3, " +
        "CAST(SUM(above) OVER w8 = 8 OR SUM(below) OVER w8 = 8 " +
        "AS BIGINT) AS r4 FROM fb WINDOW " +
        "w3 AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), " +
        "w5 AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), " +
        "w8 AS (PARTITION BY event_type ORDER BY ts, event_id " +
        "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points, " +
        "CAST(SUM(r1) AS BIGINT) AS rule1_beyond3s, " +
        "CAST(SUM(r2) AS BIGINT) AS rule2_2of3_beyond2s, " +
        "CAST(SUM(r3) AS BIGINT) AS rule3_4of5_beyond1s, " +
        "CAST(SUM(r4) AS BIGINT) AS rule4_8_same_side " +
        "FROM rl GROUP BY 1 ORDER BY event_type"
    },
    "ts_adf" -> {
      val vc = OSQL.cents("value")
      val cll = OSQL.covPowerSums("sll", "sl", "sl", "nd")
      val cld = OSQL.covPowerSums("sld", "sl", "sd", "nd")
      val cdd = OSQL.covPowerSums("sdd", "sd", "sd", "nd")
      s"WITH hourly AS (SELECT event_type, " +
        "epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx, " +
        s"CAST(SUM($vc) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT et, unnest(range(h0, h1 + 1)) AS gh FROM " +
        "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
        "FROM hourly GROUP BY 1)), " +
        "dense AS (SELECT et, gh, COALESCE(xc, 0) AS y FROM grid " +
        "LEFT JOIN hourly ON et = event_type AND gh = hidx), " +
        "lagged AS (SELECT et, y, l, y - l AS dy FROM (SELECT et, y, " +
        "lag(y) OVER (PARTITION BY et ORDER BY gh) AS l FROM dense) " +
        "WHERE l IS NOT NULL), " +
        "ps AS (SELECT et, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(l) AS DOUBLE) AS sl, CAST(SUM(dy) AS DOUBLE) AS sd, " +
        "CAST(SUM(CAST(l AS HUGEINT) * l) AS DOUBLE) AS sll, " +
        "CAST(SUM(CAST(l AS HUGEINT) * dy) AS DOUBLE) AS sld, " +
        "CAST(SUM(CAST(dy AS HUGEINT) * dy) AS DOUBLE) AS sdd " +
        "FROM lagged GROUP BY 1), " +
        s"co AS (SELECT et, nd, $cll AS cll, $cld AS cld, $cdd AS cdd " +
        "FROM ps), " +
        "fin AS (SELECT et, nd, cld / cll AS beta, " +
        "(cdd - cld * cld / cll) / ((nd - 2.0) * cll) AS se2 FROM co) " +
        "SELECT et AS event_type, CAST(nd AS BIGINT) AS n, beta, " +
        "sqrt(se2) AS se, beta / sqrt(se2) AS t_stat " +
        "FROM fin ORDER BY event_type"
    },
    "ts_seasonal_mk" -> {
      val vc = OSQL.cents("value")
      val sd = "sqrt(CAST(var18 AS DOUBLE) / 18.0)"
      s"WITH cells AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        "AS dayi, (epoch_us(ts) // 3600000000) % 24 AS hod, " +
        s"CAST(SUM($vc) AS BIGINT) AS xc FROM events GROUP BY 1, 2, 3), " +
        "st AS (SELECT a.event_type AS et, " +
        "CAST(SUM(CAST(sign(b.xc - a.xc) AS BIGINT)) AS BIGINT) AS s_stat " +
        "FROM cells a JOIN cells b ON a.event_type = b.event_type " +
        "AND a.hod = b.hod AND a.dayi < b.dayi GROUP BY 1), " +
        "ti AS (SELECT event_type, hod, xc, COUNT(*) AS t FROM cells " +
        "GROUP BY 1, 2, 3), " +
        "hs AS (SELECT event_type, hod, CAST(SUM(t) AS BIGINT) AS n, " +
        "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tt " +
        "FROM ti GROUP BY 1, 2), " +
        "ties AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_cells, " +
        "CAST(SUM(n * (n - 1) * (2 * n + 5) - tt) AS BIGINT) AS var18 " +
        "FROM hs GROUP BY 1) " +
        "SELECT event_type, n_cells, s_stat, var18, " +
        "CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / " +
        s"$sd WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / $sd " +
        "ELSE 0.0 END AS z FROM ties JOIN st ON event_type = et " +
        "ORDER BY event_type"
    },
    "ts_theil_sen" -> {
      val vc = OSQL.cents("value")
      s"WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 " +
        s"AS dayi, CAST(SUM($vc) AS BIGINT) AS xc FROM events " +
        "GROUP BY 1, 2), " +
        "sl AS (SELECT a.event_type AS et, " +
        "CAST((1000000 * CAST(b.xc - a.xc AS HUGEINT)) // " +
        "(b.dayi - a.dayi) AS BIGINT) AS sm, " +
        "a.dayi AS d1, b.dayi AS d2 FROM daily a JOIN daily b " +
        "ON a.event_type = b.event_type AND a.dayi < b.dayi), " +
        "rk AS (SELECT et, sm, CAST(row_number() OVER (PARTITION BY et " +
        "ORDER BY sm, d1, d2) AS BIGINT) AS rn, " +
        "CAST(COUNT(*) OVER (PARTITION BY et) AS BIGINT) AS n FROM sl), " +
        "med AS (SELECT et AS event_type, MAX(n) AS n_pairs, " +
        "CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN " +
        "CASE WHEN n % 2 = 1 THEN sm * 2 ELSE sm END ELSE 0 END) " +
        "AS BIGINT) AS med2_slope_micro FROM rk GROUP BY 1) " +
        "SELECT event_type, n_pairs, med2_slope_micro, " +
        "CAST(med2_slope_micro AS DOUBLE) / 2000000.0 " +
        "AS slope_cents_per_day FROM med ORDER BY event_type"
    },
    "ts_granger" -> {
      val vc = OSQL.cents("value")
      val c11 = OSQL.covPowerSums("s11", "s1", "s1", "nd")
      val c22 = OSQL.covPowerSums("s22", "s2", "s2", "nd")
      val c12 = OSQL.covPowerSums("s12", "s1", "s2", "nd")
      val c1y = OSQL.covPowerSums("s1y", "s1", "sy", "nd")
      val c2y = OSQL.covPowerSums("s2y", "s2", "sy", "nd")
      val cyy = OSQL.covPowerSums("syy", "sy", "sy", "nd")
      s"WITH hourly AS (SELECT epoch_us(date_trunc('hour', ts)) // " +
        "3600000000 AS hidx, " +
        s"CAST(SUM(CASE WHEN event_type = 'click' THEN $vc ELSE 0 END) " +
        "AS BIGINT) AS xc, " +
        s"CAST(SUM(CASE WHEN event_type = 'purchase' THEN $vc ELSE 0 END) " +
        "AS BIGINT) AS yc FROM events " +
        "WHERE event_type IN ('click', 'purchase') GROUP BY 1), " +
        "grid AS (SELECT unnest(range((SELECT MIN(hidx) FROM hourly), " +
        "(SELECT MAX(hidx) FROM hourly) + 1)) AS gh), " +
        "dense AS (SELECT gh, COALESCE(xc, 0) AS xv, COALESCE(yc, 0) AS yv " +
        "FROM grid LEFT JOIN hourly ON gh = hidx), " +
        "lagged AS (SELECT * FROM (SELECT gh, xv, yv, " +
        "lag(xv) OVER (ORDER BY gh) AS xl, " +
        "lag(yv) OVER (ORDER BY gh) AS yl FROM dense) WHERE xl IS NOT NULL), " +
        "bth AS (SELECT 'click->purchase' AS direction, yv AS y, yl AS l, " +
        "xl AS x FROM lagged UNION ALL " +
        "SELECT 'purchase->click', xv, xl, yl FROM lagged), " +
        "ps AS (SELECT direction, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(l) AS DOUBLE) AS s1, CAST(SUM(x) AS DOUBLE) AS s2, " +
        "CAST(SUM(y) AS DOUBLE) AS sy, " +
        "CAST(SUM(CAST(l AS HUGEINT) * l) AS DOUBLE) AS s11, " +
        "CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS s22, " +
        "CAST(SUM(CAST(l AS HUGEINT) * x) AS DOUBLE) AS s12, " +
        "CAST(SUM(CAST(l AS HUGEINT) * y) AS DOUBLE) AS s1y, " +
        "CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS s2y, " +
        "CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy " +
        "FROM bth GROUP BY 1), " +
        s"co AS (SELECT direction, nd, $c11 AS c11, $c22 AS c22, " +
        s"$c12 AS c12, $c1y AS c1y, $c2y AS c2y, $cyy AS cyy FROM ps), " +
        "bb AS (SELECT *, (c1y * c22 - c2y * c12) / " +
        "(c11 * c22 - c12 * c12) AS b1, (c2y * c11 - c1y * c12) / " +
        "(c11 * c22 - c12 * c12) AS b2 FROM co), " +
        "rs AS (SELECT *, cyy - (b1 * c1y + b2 * c2y) AS rssf, " +
        "cyy - c1y * c1y / c11 AS rssr FROM bb) " +
        "SELECT direction, CAST(nd AS BIGINT) AS n, b1 AS b_lag_y, " +
        "b2 AS b_lag_x, (rssr - rssf) * (nd - 3.0) / rssf AS f_stat " +
        "FROM rs ORDER BY direction"
    },
    "ts_pacf" -> (acfSqlCore +
      ", piv AS (SELECT event_type, MAX(n) AS n, " +
      "MAX(CASE WHEN lag = 1 THEN acf_micro END) AS a1, " +
      "MAX(CASE WHEN lag = 2 THEN acf_micro END) AS a2, " +
      "MAX(CASE WHEN lag = 3 THEN acf_micro END) AS a3 " +
      "FROM acf GROUP BY 1), " +
      "r AS (SELECT event_type, n, a1, a2, a3, a1 / 1000000.0 AS r1, " +
      "a2 / 1000000.0 AS r2, a3 / 1000000.0 AS r3 FROM piv), " +
      "p AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2 FROM r), " +
      "q AS (SELECT *, r1 - p2 * r1 AS phi21 FROM p) " +
      "SELECT event_type, n, a1, a2, a3, r1 AS pacf1, p2 AS pacf2, " +
      "(r3 - phi21 * r2 - p2 * r1) / (1.0 - phi21 * r1 - p2 * r2) AS pacf3 " +
      "FROM q ORDER BY event_type"),
    "ts_event_study" -> {
      val vc = OSQL.cents("value")
      s"WITH ev AS (SELECT user_id, event_type, $vc AS vc, " +
        "epoch_us(ts) // 86400000000 AS dayi FROM events), " +
        "daily AS (SELECT user_id, dayi, CAST(SUM(vc) AS BIGINT) AS sd, " +
        "CAST(COUNT(*) AS BIGINT) AS nd FROM ev GROUP BY 1, 2), " +
        "anch AS (SELECT DISTINCT user_id AS au, dayi AS aday FROM ev " +
        "WHERE event_type = 'error'), " +
        "offs AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS BIGINT) " +
        "AS off), " +
        "cells AS (SELECT off, sd, nd FROM anch CROSS JOIN offs " +
        "JOIN daily ON au = user_id AND aday + off = dayi) " +
        "SELECT off, CAST(COUNT(*) AS BIGINT) AS n_cells, " +
        "CAST(SUM(nd) AS BIGINT) AS n_events, " +
        "CAST(SUM(sd) AS DOUBLE) / (100.0 * SUM(nd)) AS mean_value " +
        "FROM cells GROUP BY off ORDER BY off"
    },
    "ts_atr" ->
      (s"WITH $dailyBarCtes, " +
        "tr AS (SELECT event_type, day, n, CASE WHEN prev_close IS NULL " +
        "THEN high_c - low_c ELSE greatest(high_c - low_c, " +
        "abs(high_c - prev_close), abs(low_c - prev_close)) END AS tr_c " +
        "FROM (SELECT *, lag(close_c) OVER (PARTITION BY event_type " +
        "ORDER BY day) AS prev_close FROM bars)) " +
        "SELECT event_type, day, n, tr_c, " +
        "CAST(SUM(tr_c) OVER w AS DOUBLE) / (100.0 * COUNT(*) OVER w) AS atr " +
        "FROM tr WINDOW w AS (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_type, day"),
    "ts_obv" ->
      (s"WITH $dailyBarCtes, " +
        "sv AS (SELECT event_type, day, close_c, n AS vol, " +
        "CASE WHEN prev_close IS NULL OR close_c = prev_close THEN 0 " +
        "WHEN close_c > prev_close THEN n ELSE -n END AS signed_vol " +
        "FROM (SELECT *, lag(close_c) OVER (PARTITION BY event_type " +
        "ORDER BY day) AS prev_close FROM bars)) " +
        "SELECT event_type, day, close_c, CAST(vol AS BIGINT) AS vol, " +
        "CAST(SUM(signed_vol) OVER (PARTITION BY event_type ORDER BY day) " +
        "AS BIGINT) AS obv FROM sv ORDER BY event_type, day"),
    "ts_beta" -> {
      val vc = OSQL.cents("value")
      val cov = "(sxm / nd - (sx / nd) * (sm / nd))"
      val varM = "(smm / nd - (sm / nd) * (sm / nd))"
      val varX = "(sxx / nd - (sx / nd) * (sx / nd))"
      s"WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        s"CAST(SUM($vc) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
        "market AS (SELECT day AS mday, CAST(SUM(xc) AS BIGINT) AS mc " +
        "FROM daily GROUP BY 1), " +
        "ps AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(xc) AS DOUBLE) AS sx, CAST(SUM(mc) AS DOUBLE) AS sm, " +
        "CAST(SUM(CAST(xc AS HUGEINT) * CAST(mc AS HUGEINT)) AS DOUBLE) AS sxm, " +
        "CAST(SUM(CAST(mc AS HUGEINT) * CAST(mc AS HUGEINT)) AS DOUBLE) AS smm, " +
        "CAST(SUM(CAST(xc AS HUGEINT) * CAST(xc AS HUGEINT)) AS DOUBLE) AS sxx " +
        "FROM daily JOIN market ON day = mday GROUP BY 1) " +
        "SELECT event_type, CAST(nd AS BIGINT) AS n_days, " +
        s"$cov / $varM AS beta, " +
        s"sx / nd - ($cov / $varM) * (sm / nd) AS alpha_c, " +
        s"$cov * $cov / ($varX * $varM) AS r2 " +
        "FROM ps ORDER BY event_type"
    },
    "ts_mann_kendall" -> {
      val vc = OSQL.cents("value")
      val sd = "sqrt(CAST(var18 AS DOUBLE) / 18.0)"
      s"WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        s"CAST(SUM($vc) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
        "st AS (SELECT a.event_type AS et, " +
        "CAST(SUM(CAST(sign(b.xc - a.xc) AS BIGINT)) AS BIGINT) AS s_stat " +
        "FROM daily a JOIN daily b ON a.event_type = b.event_type " +
        "AND a.day < b.day GROUP BY 1), " +
        "ti AS (SELECT event_type, xc, COUNT(*) AS t FROM daily " +
        "GROUP BY 1, 2), " +
        "ties AS (SELECT event_type, CAST(SUM(t) AS BIGINT) AS n, " +
        "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term " +
        "FROM ti GROUP BY 1), " +
        "v AS (SELECT event_type, n, s_stat, " +
        "n * (n - 1) * (2 * n + 5) - tie_term AS var18 " +
        "FROM ties JOIN st ON event_type = et) " +
        "SELECT event_type, n AS n_days, s_stat, CAST(var18 AS BIGINT) AS var18, " +
        "CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / " +
        s"$sd WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / $sd " +
        "ELSE 0.0 END AS z FROM v ORDER BY event_type"
    },
    "ts_dominant_period" -> (acfSqlCore +
      ", rk AS (SELECT event_type, lag AS best_lag, acf_micro, n_pairs, " +
      "n, CAST(n AS HUGEINT) * acf_micro * acf_micro >= 4000000000000 " +
      "AS significant, row_number() OVER (PARTITION BY event_type " +
      "ORDER BY acf_micro DESC, lag) AS r FROM acf) " +
      "SELECT event_type, best_lag, acf_micro, n_pairs, n, significant " +
      "FROM rk WHERE r = 1 ORDER BY event_type"),
    "ts_acf_lags" -> (acfSqlCore +
      " SELECT event_type, lag, n_pairs, acf_micro FROM acf " +
      "ORDER BY event_type, lag"),
    "ts_binseg" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, " +
        "epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx, " +
        s"CAST(SUM($c) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT et, h0, unnest(range(h0, h1 + 1)) AS ghidx FROM " +
        "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
        "FROM hourly GROUP BY 1)), " +
        "dense AS MATERIALIZED (SELECT et AS t, ghidx - h0 AS i, " +
        "COALESCE(xc, 0) AS x " +
        "FROM grid LEFT JOIN hourly ON et = event_type AND ghidx = hidx), " +
        "pre AS (SELECT t, i, x, " +
        "SUM(x) OVER (PARTITION BY t ORDER BY i) AS st, " +
        "COUNT(*) OVER (PARTITION BY t) AS n, " +
        "SUM(x) OVER (PARTITION BY t) AS sn FROM dense), " +
        "sc1 AS (SELECT t, i, n, " +
        "abs(CAST(n AS HUGEINT) * st - (i + 1) * sn) AS stat FROM pre " +
        "WHERE i < n - 1), " +
        "cp1 AS MATERIALIZED (SELECT t AS ct, CAST(n AS BIGINT) AS cn, " +
        "i + 1 AS k1, stat AS stat1 FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY t " +
        "ORDER BY stat DESC, i) AS rk FROM sc1) WHERE rk = 1), " +
        "tagged AS (SELECT t, i, x, k1, " +
        "CASE WHEN i < k1 THEN 'L' ELSE 'R' END AS seg " +
        "FROM dense JOIN cp1 ON t = ct), " +
        "pre2 AS (SELECT t, seg, i, x, " +
        "CAST(row_number() OVER (PARTITION BY t, seg ORDER BY i) " +
        "AS BIGINT) AS j, " +
        "SUM(x) OVER (PARTITION BY t, seg ORDER BY i) AS st2, " +
        "COUNT(*) OVER (PARTITION BY t, seg) AS n2, " +
        "SUM(x) OVER (PARTITION BY t, seg) AS s2 FROM tagged), " +
        "sc2 AS (SELECT t, seg, i, " +
        "abs(CAST(n2 AS HUGEINT) * st2 - j * s2) AS stat, j FROM pre2 " +
        "WHERE j < n2), " +
        "cp2 AS MATERIALIZED (SELECT t, seg, i AS cut_i, " +
        "CAST(stat AS BIGINT) AS stat2 FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY t, seg " +
        "ORDER BY stat DESC, j) AS rk FROM sc2) WHERE rk = 1) " +
        "SELECT ct AS event_type, cn AS n, k1, " +
        "CAST(stat1 AS BIGINT) AS stat1, " +
        "l.cut_i AS cut_l, l.stat2 AS stat_l, " +
        "r.cut_i AS cut_r, r.stat2 AS stat_r " +
        "FROM cp1 " +
        "LEFT JOIN cp2 l ON ct = l.t AND l.seg = 'L' " +
        "LEFT JOIN cp2 r ON ct = r.t AND r.seg = 'R' " +
        "ORDER BY event_type"
    },
    "ts_twap" -> {
      val c = OSQL.cents("value")
      s"WITH g AS (SELECT user_id, $c AS vc, epoch_us(ts) AS us, " +
        "lead(epoch_us(ts), 1) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS nxt FROM events), " +
        "seg AS (SELECT user_id, vc, nxt - us AS dt FROM g " +
        "WHERE nxt IS NOT NULL) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_segments, " +
        "CAST(SUM(dt) AS BIGINT) AS dur_us, " +
        "CAST((1000000 * SUM(CAST(vc AS HUGEINT) * dt)) // " +
        "(100 * CAST(SUM(dt) AS HUGEINT)) AS BIGINT) AS twap_micro " +
        "FROM seg GROUP BY user_id ORDER BY user_id"
    },
    "ts_haar_energy" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, " +
        "epoch_us(date_trunc('hour', ts)) // 3600000000 AS hidx, " +
        s"CAST(SUM($c) AS BIGINT) AS xc FROM events GROUP BY 1, 2), " +
        "grid AS (SELECT et, h0, unnest(range(h0, h1 + 1)) AS ghidx FROM " +
        "(SELECT event_type AS et, MIN(hidx) AS h0, MAX(hidx) AS h1 " +
        "FROM hourly GROUP BY 1)), " +
        "dense AS (SELECT et AS t, ghidx - h0 AS i, COALESCE(xc, 0) AS x " +
        "FROM grid LEFT JOIN hourly ON et = event_type AND ghidx = hidx), " +
        "l1 AS (SELECT t, i // 2 AS i2, " +
        "CAST(SUM(CASE WHEN i % 2 = 0 THEN x ELSE -x END) AS BIGINT) AS dd, " +
        "CAST(SUM(x) AS BIGINT) AS aa FROM dense GROUP BY 1, 2), " +
        "e1 AS (SELECT t, SUM(CAST(dd AS HUGEINT) * dd) AS e FROM l1 " +
        "GROUP BY 1), " +
        "l2 AS (SELECT t, i2 // 2 AS i3, " +
        "CAST(SUM(CASE WHEN i2 % 2 = 0 THEN aa ELSE -aa END) AS BIGINT) " +
        "AS dd, CAST(SUM(aa) AS BIGINT) AS aa FROM l1 GROUP BY 1, 2), " +
        "e2 AS (SELECT t, SUM(CAST(dd AS HUGEINT) * dd) AS e FROM l2 " +
        "GROUP BY 1), " +
        "l3 AS (SELECT t, " +
        "CAST(SUM(CASE WHEN i3 % 2 = 0 THEN aa ELSE -aa END) AS BIGINT) " +
        "AS dd FROM l2 GROUP BY t, i3 // 2), " +
        "e3 AS (SELECT t, SUM(CAST(dd AS HUGEINT) * dd) AS e FROM l3 " +
        "GROUP BY 1), " +
        "n AS (SELECT t AS tn, CAST(COUNT(*) AS BIGINT) AS n FROM dense " +
        "GROUP BY 1) " +
        "SELECT tn AS event_type, n, CAST(e1.e AS BIGINT) AS e1, " +
        "CAST(e2.e AS BIGINT) AS e2, CAST(e3.e AS BIGINT) AS e3 " +
        "FROM n JOIN e1 ON tn = e1.t JOIN e2 ON tn = e2.t " +
        "JOIN e3 ON tn = e3.t ORDER BY event_type"
    },
    "ts_ljung_box" -> (acfSqlCore +
      " SELECT event_type, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS n_lags, " +
      "CAST(SUM((CAST(n AS HUGEINT) * (n + 2) * acf_micro * acf_micro) // " +
      "((n - lag) * 1000000)) AS BIGINT) AS q_micro " +
      "FROM acf GROUP BY event_type ORDER BY event_type"),
    "ts_interarrival" ->
      ("WITH g0 AS (SELECT user_id, " +
        "epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS g FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, g FROM g0 WHERE g IS NOT NULL), " +
        "r AS (SELECT user_id, g, " +
        "CAST(row_number() OVER (PARTITION BY user_id ORDER BY g) " +
        "AS BIGINT) AS rn, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n FROM g) " +
        "SELECT user_id, MAX(n) AS n_gaps, MIN(g) AS min_us, " +
        "CAST(SUM(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1 THEN " +
        "CASE WHEN n % 2 = 1 THEN g * 2 ELSE g END ELSE 0 END) AS BIGINT) " +
        "AS med_us_x2, " +
        "MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN g END) AS p90_us, " +
        "MAX(g) AS max_us " +
        "FROM r GROUP BY user_id ORDER BY user_id"),
    "ts_rolling_ols" -> {
      val c = OSQL.cents("value")
      s"WITH b AS (SELECT event_id, user_id, ts, $c AS vc, " +
        "CAST(row_number() OVER w AS BIGINT) AS rn " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "p AS (SELECT event_id, user_id, ts, rn, " +
        "SUM(rn) OVER f AS sx, SUM(vc) OVER f AS sy, " +
        "SUM(rn * vc) OVER f AS sxy, SUM(rn * rn) OVER f AS sxx " +
        "FROM b WINDOW f AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)), " +
        "sl AS (SELECT event_id, user_id, ts, sx, sy, " +
        "(10.0 * sxy - CAST(sx AS DOUBLE) * sy) / " +
        "(100.0 * (10.0 * sxx - CAST(sx AS DOUBLE) * sx)) AS slope " +
        "FROM p WHERE rn >= 10) " +
        "SELECT event_id, user_id, ts, slope, " +
        "(CAST(sy AS DOUBLE) / 100.0 - slope * sx) / 10.0 AS intercept " +
        "FROM sl ORDER BY event_id"
    },
    "ts_hurst_rs" -> {
      val c = OSQL.cents("value")
      val s2 = OSQL.covPowerSums("syy", "sy", "sy", "nd")
      s"WITH b AS (SELECT user_id, $c AS vc, " +
        "CAST(row_number() OVER w AS BIGINT) AS k, " +
        "COUNT(*) OVER (PARTITION BY user_id) AS n, " +
        s"SUM($c) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        s"SUM($c) OVER (PARTITION BY user_id) AS tot " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT user_id, MAX(n) AS n, " +
        "CAST(MAX(n * cum - k * tot) - MIN(n * cum - k * tot) AS BIGINT) AS r_scaled, " +
        "CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(vc) AS DOUBLE) AS sy, " +
        "CAST(SUM(vc * vc) AS DOUBLE) AS syy FROM b GROUP BY user_id) " +
        s"SELECT user_id, n, r_scaled, $s2 AS s2, " +
        "(CAST(r_scaled AS DOUBLE) / n / 100.0) / " +
        s"sqrt(nullif($s2, 0.0)) AS rs " +
        "FROM g ORDER BY user_id"
    },
    "ts_perm_entropy" -> {
      val c = OSQL.cents("value")
      s"WITH b AS (SELECT user_id, $c AS c, " +
        s"lag($c, 2) OVER w AS a, lag($c, 1) OVER w AS b2 " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "pats AS (SELECT user_id, " +
        "(CASE WHEN a < b2 THEN 1 ELSE 0 END) * 4 + " +
        "(CASE WHEN b2 < c THEN 1 ELSE 0 END) * 2 + " +
        "(CASE WHEN a < c THEN 1 ELSE 0 END) AS pat " +
        "FROM b WHERE a IS NOT NULL), " +
        "counts AS (SELECT user_id, pat, COUNT(*) AS cnt FROM pats " +
        "GROUP BY 1, 2), " +
        "tot AS (SELECT user_id AS u, SUM(cnt) AS n FROM counts GROUP BY 1), " +
        "terms AS (SELECT user_id, n, CAST(floor(CAST(cnt AS DOUBLE) / n * " +
        "ln(CAST(cnt AS DOUBLE) / n) * -1000000.0) AS BIGINT) AS term_micro " +
        "FROM counts JOIN tot ON user_id = u) " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_patterns, " +
        "CAST(MAX(n) AS BIGINT) AS n_triples, " +
        "CAST(SUM(term_micro) AS DOUBLE) / 1000000.0 AS perm_entropy_nats " +
        "FROM terms GROUP BY user_id ORDER BY user_id"
    },
    "ts_burst" ->
      ("WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h, " +
        "CAST(COUNT(*) AS BIGINT) AS nb FROM events GROUP BY 1, 2), " +
        "tot AS (SELECT event_type AS et, SUM(nb) AS s, " +
        "CAST(COUNT(*) AS BIGINT) AS c FROM hourly GROUP BY 1), " +
        "hot AS (SELECT event_type, h, nb, " +
        "epoch_us(h) // 3600000000 AS hidx " +
        "FROM hourly JOIN tot ON event_type = et " +
        "WHERE 3 * nb * c >= 4 * s), " +
        "isl AS (SELECT event_type, h, nb, " +
        "hidx - row_number() OVER (PARTITION BY event_type ORDER BY hidx) " +
        "AS grp FROM hot) " +
        "SELECT event_type, MIN(h) AS burst_start, MAX(h) AS burst_end, " +
        "CAST(COUNT(*) AS BIGINT) AS n_hours, CAST(SUM(nb) AS BIGINT) AS n_events " +
        "FROM isl GROUP BY event_type, grp HAVING COUNT(*) >= 3 " +
        "ORDER BY event_type, burst_start"),
    "ts_max_concurrency" ->
      ("WITH b AS (SELECT user_id, ts, event_id, " +
        "lag(epoch_us(ts), 1) OVER w AS prev_us, " +
        "epoch_us(ts) AS us FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "marked AS (SELECT user_id, ts, " +
        "SUM(CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000 " +
        "THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid " +
        "FROM b), " +
        "sess AS (SELECT user_id, sid, MIN(ts) AS st, MAX(ts) AS en " +
        "FROM marked GROUP BY 1, 2), " +
        "pts AS (SELECT st AS t, CAST(1 AS BIGINT) AS delta, " +
        "CAST(date_trunc('day', st) AS TIMESTAMP) AS day FROM sess " +
        "UNION ALL SELECT en, CAST(-1 AS BIGINT), " +
        "CAST(date_trunc('day', en) AS TIMESTAMP) FROM sess), " +
        "offs AS (SELECT od, COALESCE(SUM(dsum) OVER (ORDER BY od " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off " +
        "FROM (SELECT day AS od, SUM(delta) AS dsum FROM pts GROUP BY 1)), " +
        "peaks AS (SELECT day, MAX(rsum) AS peak_in_day FROM " +
        "(SELECT day, SUM(delta) OVER (PARTITION BY day " +
        "ORDER BY t, delta DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsum " +
        "FROM pts) GROUP BY day) " +
        "SELECT day, CAST(GREATEST(off + peak_in_day, off) AS BIGINT) " +
        "AS max_concurrent FROM peaks JOIN offs ON day = od ORDER BY day"),
    "ts_rsi" -> {
      val c = OSQL.cents("value")
      s"WITH b AS (SELECT event_id, user_id, ts, " +
        "row_number() OVER w AS rn, " +
        s"$c - lag($c, 1) OVER w AS diff_c " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "g AS (SELECT event_id, user_id, rn, " +
        "SUM(CASE WHEN diff_c > 0 THEN diff_c ELSE 0 END) OVER w14 AS sum_gain, " +
        "SUM(CASE WHEN diff_c < 0 THEN -diff_c ELSE 0 END) OVER w14 AS sum_loss " +
        "FROM b WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, 100.0 * CAST(sum_gain AS DOUBLE) / " +
        "nullif(CAST(sum_gain + sum_loss AS DOUBLE), 0) AS rsi " +
        "FROM g WHERE rn >= 15 ORDER BY event_id"
    },
    "ts_decompose" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, " +
        "epoch_us(ts) // 3600000000 AS hidx, " +
        s"CAST(SUM($c) AS BIGINT) AS sc FROM events GROUP BY 1, 2), " +
        "tr AS (SELECT event_type, hidx, sc, " +
        "(1000000 * SUM(sc) OVER w) // (COUNT(*) OVER w) AS trend_micro " +
        "FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hidx " +
        "ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)), " +
        "dt AS (SELECT *, 1000000 * sc - trend_micro AS d_micro, " +
        "hidx % 24 AS hod FROM tr), " +
        "se AS (SELECT event_type AS et2, hod AS hod2, " +
        "CAST(SUM(d_micro) // COUNT(*) AS BIGINT) AS seasonal_micro " +
        "FROM dt GROUP BY 1, 2) " +
        "SELECT event_type, hidx, sc, CAST(trend_micro AS BIGINT) " +
        "AS trend_micro, seasonal_micro, " +
        "CAST(d_micro - seasonal_micro AS BIGINT) AS resid_micro " +
        "FROM dt JOIN se ON event_type = et2 AND hod = hod2 " +
        "ORDER BY event_type, hidx"
    },
    "ts_window_funnel" ->
      ("WITH t1 AS (SELECT user_id AS u1, MIN(ts) AS t1 FROM events " +
        "WHERE event_type = 'click' GROUP BY 1), " +
        "t2 AS (SELECT user_id AS u2, t1 AS t1b, MIN(ts) AS t2 FROM events " +
        "JOIN t1 ON user_id = u1 WHERE event_type = 'view' AND ts > t1 " +
        "AND ts <= t1 + INTERVAL 24 HOURS GROUP BY 1, 2), " +
        "t3 AS (SELECT user_id AS u3, MIN(ts) AS t3 FROM events " +
        "JOIN t2 ON user_id = u2 WHERE event_type = 'purchase' AND ts > t2 " +
        "AND ts <= t1b + INTERVAL 24 HOURS GROUP BY 1), " +
        "us AS (SELECT DISTINCT user_id FROM events) " +
        "SELECT user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 " +
        "WHEN t2 IS NOT NULL THEN 2 WHEN t1 IS NOT NULL THEN 1 " +
        "ELSE 0 END AS BIGINT) AS funnel_level, t1, t2, t3 " +
        "FROM us LEFT JOIN t1 ON user_id = u1 " +
        "LEFT JOIN t2 ON user_id = u2 LEFT JOIN t3 ON user_id = u3 " +
        "ORDER BY user_id"),
    "ts_hysteresis" -> hysteresisSql,
    "ts_stochastic" -> {
      val c = OSQL.cents("value")
      s"WITH b AS (SELECT event_id, user_id, ts, $c AS vc, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "FROM events), " +
        "k AS (SELECT event_id, user_id, ts, rn, " +
        "100.0 * CAST(vc - MIN(vc) OVER w14 AS DOUBLE) / " +
        "nullif(CAST(MAX(vc) OVER w14 - MIN(vc) OVER w14 AS DOUBLE), 0) AS pct_k " +
        "FROM b WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)), " +
        "dd AS (SELECT event_id, user_id, rn, pct_k, " +
        "(pct_k + lag(pct_k, 1) OVER w + lag(pct_k, 2) OVER w) / 3.0 AS pct_d " +
        "FROM k WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "SELECT event_id, user_id, pct_k, pct_d FROM dd WHERE rn >= 16 " +
        "ORDER BY event_id"
    },
    "ts_sma_cross" -> {
      val c = OSQL.cents("value")
      s"WITH b AS (SELECT event_id, user_id, ts, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, " +
        s"SUM($c) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS s10, " +
        s"SUM($c) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 29 PRECEDING AND CURRENT ROW) AS s30 FROM events), " +
        "st AS (SELECT event_id, user_id, ts, rn, " +
        "CASE WHEN 3 * s10 - s30 > 0 THEN 1 " +
        "WHEN 3 * s10 - s30 < 0 THEN -1 ELSE 0 END AS state FROM b), " +
        "pv AS (SELECT event_id, user_id, ts, rn, state, " +
        "lag(state, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS prev_state FROM st) " +
        "SELECT event_id, user_id, ts, " +
        "CASE WHEN state = 1 THEN 'golden' ELSE 'death' END AS direction " +
        "FROM pv WHERE rn >= 31 AND state <> 0 AND state <> prev_state " +
        "ORDER BY event_id"
    },
    "ts_macd" -> foldSql(
      // field order mirrors [[tsMacd]] — 'sig' FIRST so DuckDB's in-place
      // sequential field writes never expose a new value to a reference
      "{'sig': CAST(0.0 AS DOUBLE), 'e12': v, 'e26': v}",
      "{'sig': 0.2 * (acc.e12 - acc.e26) + 0.8 * acc.sig, " +
        "'e12': 0.15 * x.e12 + 0.85 * acc.e12, " +
        "'e26': 0.075 * x.e26 + 0.925 * acc.e26}",
      "fin.e12 - fin.e26 AS macd, " +
        "0.2 * (fin.e12 - fin.e26) + 0.8 * fin.sig AS macd_signal, " +
        "(fin.e12 - fin.e26) - (0.2 * (fin.e12 - fin.e26) + 0.8 * fin.sig) " +
        "AS histogram"),
    "ts_kalman" -> foldSql(
      "{'x': v, 'p': CAST(1.0 AS DOUBLE)}",
      "{'x': acc.x + ((acc.p + 0.01) / (acc.p + 0.01 + 1.0)) * (x.x - acc.x), " +
        "'p': (1.0 - ((acc.p + 0.01) / (acc.p + 0.01 + 1.0))) * (acc.p + 0.01)}",
      "fin.x AS level, fin.p AS variance"),
    "ts_cross_corr" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, " +
        "(epoch_us(ts) // 3600000000) AS hidx, " +
        s"CAST(SUM($c) AS BIGINT) AS sc FROM events GROUP BY 1, 2), " +
        "lags AS (SELECT CAST(l AS BIGINT) AS lag_h FROM range(-3, 4) t(l)), " +
        "j AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "lag_h, a.sc AS xa, b.sc AS xb FROM hourly a CROSS JOIN lags " +
        "JOIN hourly b ON a.hidx = b.hidx + lag_h " +
        "AND a.event_type < b.event_type), " +
        "ps AS (SELECT type_a, type_b, lag_h, " +
        "CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy, " +
        "CAST(SUM(xa * xa) AS DOUBLE) AS sxx, " +
        "CAST(SUM(xb * xb) AS DOUBLE) AS syy, " +
        "CAST(SUM(xa * xb) AS DOUBLE) AS sxy " +
        "FROM j GROUP BY 1, 2, 3), " +
        "sc AS (SELECT type_a, type_b, lag_h, CAST(nd AS BIGINT) AS n_hours, " +
        s"(${OSQL.covPowerSums("sxy", "sx", "sy", "nd")}) / " +
        s"(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) * " +
        s"sqrt(${OSQL.covPowerSums("syy", "sy", "sy", "nd")})) AS corr " +
        "FROM ps), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY type_a, type_b " +
        "ORDER BY corr DESC, lag_h) AS rn FROM sc) " +
        "SELECT type_a, type_b, lag_h AS best_lag_h, n_hours, corr " +
        "FROM rk WHERE rn = 1 ORDER BY type_a, type_b"
    },
    "ts_seasonal_strength" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour, " +
        s"CAST(SUM($c) AS BIGINT) AS sc FROM events GROUP BY 1, 2), " +
        "j AS (SELECT a.event_type, a.sc AS xa, b.sc AS xb FROM hourly a " +
        "JOIN hourly b ON a.event_type = b.event_type " +
        "AND a.hour = b.hour + INTERVAL 24 HOURS), " +
        "ps AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy, " +
        "CAST(SUM(xa * xa) AS DOUBLE) AS sxx, " +
        "CAST(SUM(xb * xb) AS DOUBLE) AS syy, " +
        "CAST(SUM(xa * xb) AS DOUBLE) AS sxy FROM j GROUP BY 1) " +
        "SELECT event_type, CAST(nd AS BIGINT) AS n_pairs, " +
        s"(${OSQL.covPowerSums("sxy", "sx", "sy", "nd")}) / " +
        s"(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) * " +
        s"sqrt(${OSQL.covPowerSums("syy", "sy", "sy", "nd")})) " +
        "AS seasonal_corr FROM ps ORDER BY event_type"
    },
    "ts_run_length" -> {
      val c = OSQL.cents("value")
      s"WITH med AS (SELECT CAST(floor(quantile_cont($c, 0.5) * 2) " +
        "AS BIGINT) AS med2 FROM events), " +
        s"pts AS (SELECT user_id, ts, event_id, " +
        s"CASE WHEN $c * 2 >= med2 THEN 1 ELSE 0 END AS regime " +
        "FROM events CROSS JOIN med), " +
        "anch AS (SELECT user_id, regime, " +
        "CAST(row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS BIGINT) - " +
        "CAST(row_number() OVER (PARTITION BY user_id, regime " +
        "ORDER BY ts, event_id) AS BIGINT) AS grp FROM pts), " +
        "runs AS (SELECT user_id, regime, grp, " +
        "CAST(COUNT(*) AS BIGINT) AS len FROM anch GROUP BY 1, 2, 3) " +
        "SELECT user_id, CAST(regime AS BIGINT) AS regime, " +
        "CAST(COUNT(*) AS BIGINT) AS n_runs, " +
        "CAST(MAX(len) AS BIGINT) AS max_run, " +
        "CAST(SUM(len) AS DOUBLE) / COUNT(*) AS avg_run " +
        "FROM runs GROUP BY user_id, regime ORDER BY user_id, regime"
    },
    "ts_dtw" -> {
      val c = OSQL.cents("value")
      val sCols = (1 to 8).map(j =>
        s"CAST(MAX(CASE WHEN seg = $j THEN m END) AS BIGINT) AS s$j")
        .mkString(", ")
      val cells = (for { i <- 1 to 8; j <- 1 to 8 } yield {
        val cost = s"abs(s$i - ${DtwPattern(j - 1)})"
        val e =
          if (i == 1 && j == 1) cost
          else if (i == 1) s"$cost + d_1_${j - 1}"
          else if (j == 1) s"$cost + d_${i - 1}_1"
          else s"$cost + least(d_${i - 1}_$j, d_${i}_${j - 1}, " +
            s"d_${i - 1}_${j - 1})"
        s"$e AS d_${i}_$j"
      }).mkString(", ")
      s"WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        s"CAST(SUM($c) AS BIGINT) AS sd, CAST(COUNT(*) AS BIGINT) AS nd " +
        "FROM events GROUP BY 1, 2), " +
        "segd AS (SELECT user_id, sd, nd, CAST(ntile(8) OVER " +
        "(PARTITION BY user_id ORDER BY day) AS BIGINT) AS seg FROM daily), " +
        "seg AS (SELECT user_id, seg, CAST(CAST(SUM(sd) AS BIGINT) // " +
        "CAST(SUM(nd) AS BIGINT) AS BIGINT) AS m FROM segd GROUP BY 1, 2), " +
        s"paa AS (SELECT user_id, COUNT(*) AS n_seg, $sCols FROM seg " +
        "GROUP BY user_id), " +
        s"dp AS (SELECT user_id, s1, s2, s3, s4, s5, s6, s7, s8, $cells " +
        "FROM paa WHERE n_seg = 8) " +
        "SELECT user_id, s1, s2, s3, s4, s5, s6, s7, s8, " +
        "d_8_8 AS dtw_dist FROM dp ORDER BY user_id"
    },
    "ts_changepoint" -> {
      val c = OSQL.cents("value")
      s"WITH pts AS (SELECT user_id, $c AS vc, " +
        "CAST(row_number() OVER w AS BIGINT) AS t, " +
        s"CAST(SUM($c) OVER w AS BIGINT) AS st FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "tot AS (SELECT user_id, MAX(t) AS n, CAST(SUM(vc) AS BIGINT) AS sn " +
        "FROM pts GROUP BY user_id), " +
        "sc AS (SELECT user_id, t, n, st, sn, " +
        "abs(n * st - t * sn) AS stat FROM pts JOIN tot USING (user_id) " +
        "WHERE t < n), " +
        "rk AS (SELECT *, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY stat DESC, t) AS rk FROM sc) " +
        "SELECT user_id, t AS split_t, n, stat, " +
        "CAST(st AS DOUBLE) / (100.0 * t) AS mean_left, " +
        "CAST(sn - st AS DOUBLE) / (100.0 * (n - t)) AS mean_right " +
        "FROM rk WHERE rk = 1 ORDER BY user_id"
    },
    "ts_sax" ->
      (s"WITH $saxCtes " +
        "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days, " +
        "string_agg(sym, '' ORDER BY day) AS sax " +
        "FROM sym GROUP BY user_id ORDER BY user_id"),
    "ts_motif_count" ->
      (s"WITH $saxCtes, " +
        "mot AS (SELECT user_id, sym || lead(sym, 1) OVER w || " +
        "lead(sym, 2) OVER w AS motif FROM sym " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY day)) " +
        "SELECT motif, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM mot WHERE motif IS NOT NULL " +
        "GROUP BY motif ORDER BY motif"),
    "ts_corr_matrix" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour, " +
        s"CAST(SUM($c) AS BIGINT) AS sc FROM events GROUP BY 1, 2), " +
        "j AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "a.sc AS xa, b.sc AS xb FROM hourly a JOIN hourly b " +
        "ON a.hour = b.hour AND a.event_type < b.event_type), " +
        "ps AS (SELECT type_a, type_b, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(xa) AS DOUBLE) AS sx, CAST(SUM(xb) AS DOUBLE) AS sy, " +
        "CAST(SUM(xa * xa) AS DOUBLE) AS sxx, " +
        "CAST(SUM(xb * xb) AS DOUBLE) AS syy, " +
        "CAST(SUM(xa * xb) AS DOUBLE) AS sxy " +
        "FROM j GROUP BY 1, 2) " +
        "SELECT type_a, type_b, CAST(nd AS BIGINT) AS n_hours, " +
        s"(${OSQL.covPowerSums("sxy", "sx", "sy", "nd")}) / " +
        s"(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) * " +
        s"sqrt(${OSQL.covPowerSums("syy", "sy", "sy", "nd")})) AS corr " +
        "FROM ps ORDER BY type_a, type_b"
    },
    "ts_markov" ->
      ("WITH seq AS (SELECT user_id, event_type, " +
        "lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) " +
        "AS next_type FROM events), " +
        "c AS (SELECT event_type AS from_type, next_type AS to_type, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM seq WHERE next_type IS NOT NULL " +
        "GROUP BY 1, 2) " +
        "SELECT from_type, to_type, n, " +
        "CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total, " +
        "(1000000 * n) // CAST(SUM(n) OVER (PARTITION BY from_type) " +
        "AS BIGINT) AS p_micro " +
        "FROM c ORDER BY from_type, to_type"),
    "ts_bollinger" ->
      (s"WITH ev AS (SELECT event_id, user_id, ts, " +
        s"${OSQL.cents("value")} AS vc FROM events), " +
        "win AS (SELECT event_id, user_id, vc, " +
        "COUNT(*) OVER w AS n_win, CAST(SUM(vc) OVER w AS BIGINT) AS sum_c, " +
        "CAST(SUM(vc * vc) OVER w AS BIGINT) AS sumsq_c FROM ev " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_id, user_id, n_win, " +
        "CAST(sum_c // n_win AS BIGINT) AS mean_cents, " +
        "(n_win - 1) * (n_win * vc - sum_c) * (n_win * vc - sum_c) > " +
        "4 * n_win * (n_win * sumsq_c - sum_c * sum_c) AS is_break " +
        "FROM win ORDER BY event_id"),
    "ts_trend" ->
      ("WITH m AS (SELECT event_type, COUNT(*) AS n, " +
        "SUM(CAST(epoch_us(ts) // 1000000 AS DECIMAL(38,0))) AS sx, " +
        s"SUM(CAST(${OSQL.cents("value")} AS DECIMAL(38,0))) AS sy, " +
        "SUM(CAST((epoch_us(ts) // 1000000) * " +
        s"${OSQL.cents("value")} AS DECIMAL(38,0))) AS sxy, " +
        "SUM(CAST((epoch_us(ts) // 1000000) * (epoch_us(ts) // 1000000) " +
        "AS DECIMAL(38,0))) AS sxx FROM events GROUP BY event_type) " +
        "SELECT event_type, n, " +
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * " +
        "CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope_cents_per_sec, " +
        "(CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
        "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (CAST(n AS DOUBLE) * " +
        "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * " +
        "CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept_cents " +
        "FROM m ORDER BY event_type"),
    "ts_peak_detect" ->
      ("SELECT user_id, event_id, ts, value, " +
        "CASE WHEN c > pc THEN 'peak' ELSE 'trough' END AS kind FROM (" +
        s"SELECT user_id, event_id, ts, value, ${OSQL.cents("value")} AS c, " +
        s"lag(${OSQL.cents("value")}) OVER w AS pc, " +
        s"lead(${OSQL.cents("value")}) OVER w AS nc FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "WHERE pc IS NOT NULL AND nc IS NOT NULL " +
        "AND ((c > pc AND c > nc) OR (c < pc AND c < nc)) ORDER BY event_id"),
    "ts_lttb" -> lttbSql,
    "ts_drawdown" ->
      (s"WITH c AS (SELECT user_id, event_id, ts, ${OSQL.cents("value")} " +
        "AS c FROM events), " +
        "p AS (SELECT user_id, event_id, c, MAX(c) OVER (PARTITION BY " +
        "user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS peak_c FROM c) " +
        "SELECT user_id, event_id, peak_c / 100.0 AS running_peak, " +
        "(peak_c - c) / 100.0 AS drawdown FROM p ORDER BY event_id"),
    "ts_holt" ->
      ("WITH RECURSIVE seq AS (SELECT user_id, event_id, " +
        s"${OSQL.cents("value")} AS y, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 " +
        "AS idx FROM events), " +
        "sm(user_id, idx, event_id, lvl, tr) AS (" +
        "SELECT user_id, idx, event_id, y, CAST(0 AS BIGINT) FROM seq " +
        "WHERE idx = 0 " +
        "UNION ALL SELECT q.user_id, q.idx, q.event_id, " +
        "(30 * q.y + 70 * (sm.lvl + sm.tr)) // 100, " +
        "(20 * ((30 * q.y + 70 * (sm.lvl + sm.tr)) // 100 - sm.lvl) " +
        "+ 80 * sm.tr) // 100 " +
        "FROM sm JOIN seq q ON q.user_id = sm.user_id " +
        "AND q.idx = sm.idx + 1) " +
        "SELECT user_id, idx, event_id, lvl, tr FROM sm " +
        "ORDER BY user_id, idx"),
    "ts_holt_winters" -> {
      // integer arithmetic is evaluation-order-free, so nl/nt/ns recompute
      // inline (the holt-oracle idiom) without tree-mirroring concerns
      val su = "h.seas[1]"
      val nl = s"(30 * (i.ys[CAST(h.t + 1 AS INTEGER)] - $su) + " +
        "70 * (h.lvl + h.tr)) // 100"
      s"WITH RECURSIVE hourly AS (SELECT event_type, " +
        "date_trunc('hour', ts) AS bucket, " +
        s"CAST(SUM(${OSQL.cents("value")}) // COUNT(*) AS BIGINT) AS y " +
        "FROM events GROUP BY 1, 2), " +
        "base AS (SELECT event_type, list(y ORDER BY bucket) AS ys " +
        "FROM hourly GROUP BY event_type), " +
        "init AS (SELECT event_type, ys, CAST(len(ys) AS BIGINT) AS n, " +
        "CAST(list_sum(ys[1:24]) // 24 AS BIGINT) AS lvl0 FROM base " +
        "WHERE len(ys) >= 25), " +
        "hw(event_type, t, lvl, tr, seas) AS (" +
        "SELECT event_type, CAST(24 AS BIGINT), lvl0, CAST(0 AS BIGINT), " +
        "list_transform(ys[1:24], x -> x - lvl0) FROM init " +
        "UNION ALL SELECT h.event_type, h.t + 1, " +
        s"$nl, " +
        s"(20 * (($nl) - h.lvl) + 80 * h.tr) // 100, " +
        "list_concat(h.seas[2:], [" +
        s"(30 * (i.ys[CAST(h.t + 1 AS INTEGER)] - ($nl)) + 70 * $su) // 100" +
        "]) " +
        "FROM hw h JOIN init i USING (event_type) WHERE h.t < i.n) " +
        "SELECT hw.event_type, n, lvl, tr, seas[1] AS s_next, " +
        "CAST(lvl + tr + seas[1] AS DOUBLE) / 100.0 AS forecast " +
        "FROM hw JOIN init USING (event_type) WHERE t = n " +
        "ORDER BY event_type"
    },
    "ts_theta" ->
      ("WITH seq AS (SELECT user_id, " +
        s"list(${OSQL.cents("value")} ORDER BY ts, event_id) AS ys " +
        "FROM events GROUP BY user_id), " +
        "f AS (SELECT user_id, ys, CAST(len(ys) AS BIGINT) AS n FROM seq " +
        "WHERE len(ys) >= 2), " +
        // list_reduce seeds with the first element and folds the rest —
        // exactly the Spark aggregate(slice(..2..), ys[1], fold) contract
        "g AS (SELECT user_id, n, " +
        "list_reduce(ys, (acc, y) -> (20 * y + 80 * acc) // 100) AS lvl, " +
        "(ys[-1] - ys[1]) // (n - 1) AS drift FROM f) " +
        "SELECT user_id, n, lvl, drift, " +
        "CAST(lvl + drift // 2 AS DOUBLE) / 100.0 AS forecast " +
        "FROM g ORDER BY user_id"),
    "ts_heatmap_bins" ->
      ("SELECT ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow, " +
        "(epoch_us(ts) // 3600000000) % 24 AS hod, COUNT(*) AS n, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS DOUBLE) / 100.0 AS sum_value " +
        "FROM events GROUP BY 1, 2 ORDER BY dow, hod"),
    "ts_top_sessions" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS session_id FROM flagged), " +
        "sess AS (SELECT user_id, session_id, MIN(ts) AS session_start, " +
        "MAX(ts) AS session_end, COUNT(*) AS n_events " +
        "FROM numbered GROUP BY user_id, session_id) " +
        "SELECT *, epoch_us(session_end) - epoch_us(session_start) " +
        "AS duration_us FROM sess " +
        "ORDER BY duration_us DESC, user_id, session_id LIMIT 10"),
    "ts_vwap" ->
      ("SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_trades, " +
        s"CAST(SUM(CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS BIGINT) " +
        "AS total_vol, " +
        s"CAST(SUM(${OSQL.cents("value")} * " +
        "CAST(regexp_extract(props, '[0-9]+') AS BIGINT)) AS DOUBLE) / " +
        "(100.0 * CAST(NULLIF(CAST(SUM(CAST(regexp_extract(props, '[0-9]+') " +
        "AS BIGINT)) AS BIGINT), 0) AS DOUBLE)) AS vwap " +
        "FROM events GROUP BY 1 ORDER BY hour"),
    "ts_session_native" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, " +
        // >= not >: Spark session windows are [start, last+gap) with an
        // EXCLUSIVE end, so a gap of exactly 30min starts a new session
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS sid FROM flagged) " +
        "SELECT MIN(ts) AS sstart, MAX(ts) + INTERVAL 30 MINUTE AS send, " +
        s"user_id, COUNT(*) AS n_events, ${OSQL.dsum("value")} AS sum_value " +
        "FROM numbered GROUP BY user_id, sid ORDER BY user_id, sstart"),
    "ts_pattern_ab" ->
      ("SELECT user_id, event_id AS a_event_id, ts AS a_ts, " +
        "next_id AS b_event_id, next_ts AS b_ts, " +
        "CAST(epoch_us(next_ts) - epoch_us(ts) AS DOUBLE) / 1000000.0 " +
        "AS gap_seconds FROM (" +
        "SELECT user_id, event_id, ts, event_type, " +
        "lead(event_type) OVER w AS next_type, lead(ts) OVER w AS next_ts, " +
        "lead(event_id) OVER w AS next_id FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
        "WHERE event_type = 'click' AND next_type = 'purchase' " +
        "ORDER BY a_event_id"),
    "ts_rolling_median" ->
      ("SELECT user_id, event_id, ts, " +
        s"quantile_cont(${OSQL.cents("value")}, 0.5) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) / 100.0 AS rolling_median " +
        "FROM events ORDER BY event_id"),
    "ts_trailing_1h" ->
      ("SELECT user_id, event_id, ts, " +
        "COUNT(*) OVER w AS n_1h, " +
        s"CAST(SUM(${OSQL.cents("value")}) OVER w AS DOUBLE) / 100.0 AS sum_1h " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) " +
        "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id"),
    "ts_cusum" -> {
      val c = OSQL.cents("value")
      s"WITH med AS (SELECT CAST(floor(quantile_cont($c, 0.5) * 2) AS BIGINT) " +
        "AS med2 FROM events), " +
        s"devs AS (SELECT user_id, list($c * 2 - med2 ORDER BY ts, event_id) " +
        "AS pts FROM events CROSS JOIN med GROUP BY user_id) " +
        "SELECT user_id, CAST(len(pts) AS BIGINT) AS n, " +
        "list_reduce(list_prepend(CAST(0 AS BIGINT), pts), " +
        "(acc, x) -> greatest(CAST(0 AS BIGINT), acc + x)) AS final_cusum2 " +
        "FROM devs ORDER BY user_id"
    },
    "ts_scd2" ->
      ("SELECT user_id, " +
        "row_number() OVER w AS version, ts AS valid_from, " +
        "lead(ts) OVER w AS valid_to, value, " +
        "lead(ts) OVER w IS NULL AS is_current " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, version"),
    "ts_interpolate" ->
      ("WITH grid AS (SELECT user_id, unnest(generate_series(" +
        "date_trunc('day', MIN(ts)), date_trunc('day', MAX(ts)), " +
        "INTERVAL 1 DAY)) AS day FROM events GROUP BY user_id), " +
        "daily AS (SELECT user_id, day, value AS obs FROM (" +
        "SELECT user_id, date_trunc('day', ts) AS day, value, " +
        "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1), " +
        "nbrs AS (SELECT g.user_id, g.day, d.obs, " +
        "last_value(d.obs IGNORE NULLS) OVER wb AS pv, " +
        "last_value(CASE WHEN d.obs IS NOT NULL THEN g.day END IGNORE NULLS) OVER wb AS pd, " +
        "first_value(d.obs IGNORE NULLS) OVER wf AS nv, " +
        "first_value(CASE WHEN d.obs IS NOT NULL THEN g.day END IGNORE NULLS) OVER wf AS nx " +
        "FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day " +
        "WINDOW wb AS (PARTITION BY g.user_id ORDER BY g.day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wf AS (PARTITION BY g.user_id ORDER BY g.day " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, day, " +
        "CASE WHEN obs IS NOT NULL THEN obs " +
        "WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv " +
        "ELSE pv + (nv - pv) * (CAST(epoch_us(day) - epoch_us(pd) AS DOUBLE) / " +
        "CAST(epoch_us(nx) - epoch_us(pd) AS DOUBLE)) END AS interp_value, " +
        "obs IS NOT NULL AS is_observed " +
        "FROM nbrs ORDER BY user_id, day"),
    "ts_autocorr" -> {
      val c = OSQL.cents("value")
      s"WITH pts AS (SELECT user_id, $c AS xc, " +
        s"lag($c) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS yc " +
        "FROM events), " +
        "ps AS (SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        "CAST(SUM(xc) AS DOUBLE) AS sx, CAST(SUM(yc) AS DOUBLE) AS sy, " +
        "CAST(SUM(xc * xc) AS DOUBLE) AS sxx, " +
        "CAST(SUM(yc * yc) AS DOUBLE) AS syy, " +
        "CAST(SUM(xc * yc) AS DOUBLE) AS sxy " +
        "FROM pts WHERE yc IS NOT NULL GROUP BY user_id) " +
        "SELECT user_id, CAST(nd AS BIGINT) AS n_pairs, " +
        s"(${OSQL.covPowerSums("sxy", "sx", "sy", "nd")}) / " +
        s"(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) * " +
        s"sqrt(${OSQL.covPowerSums("syy", "sy", "sy", "nd")})) AS lag1_autocorr " +
        "FROM ps ORDER BY user_id"
    },
    "ts_seasonal" -> {
      val c = OSQL.cents("value")
      s"WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS bucket, " +
        s"CAST(SUM($c) AS BIGINT) AS sum_c, COUNT(*) AS n FROM events " +
        "GROUP BY 1, 2) " +
        "SELECT event_type, bucket, " +
        "CAST(sum_c AS DOUBLE) / (100.0 * n) AS bucket_mean, " +
        "CAST(SUM(sum_c) OVER w AS DOUBLE) / " +
        "(100.0 * CAST(SUM(n) OVER w AS DOUBLE)) AS trend, " +
        "CAST(sum_c AS DOUBLE) / (100.0 * n) - CAST(SUM(sum_c) OVER w AS DOUBLE) / " +
        "(100.0 * CAST(SUM(n) OVER w AS DOUBLE)) AS residual " +
        "FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket " +
        "ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) " +
        "ORDER BY event_type, bucket"
    },
    "ts_funnel_steps" ->
      ("WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t_signup FROM events " +
        "WHERE event_type = 'signup' GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t_click FROM events e " +
        "JOIN s1 ON e.user_id = s1.u WHERE e.event_type = 'click' " +
        "AND e.ts >= s1.t_signup AND e.ts <= s1.t_signup + INTERVAL 7 DAY " +
        "GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t_purchase FROM events e " +
        "JOIN s2 ON e.user_id = s2.u WHERE e.event_type = 'purchase' " +
        "AND e.ts >= s2.t_click AND e.ts <= s2.t_click + INTERVAL 7 DAY " +
        "GROUP BY e.user_id) " +
        "SELECT s1.u AS user_id, s1.t_signup, s2.t_click, s3.t_purchase, " +
        "1 + CAST(s2.t_click IS NOT NULL AS BIGINT) + " +
        "CAST(s3.t_purchase IS NOT NULL AS BIGINT) AS max_stage " +
        "FROM s1 LEFT JOIN s2 ON s1.u = s2.u LEFT JOIN s3 ON s1.u = s3.u " +
        "ORDER BY user_id"),
    "ts_retention" ->
      // CAST: DuckDB's date_trunc('day') yields DATE, Spark's TIMESTAMP
      ("WITH ed AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) " +
        "AS day FROM events), " +
        "cohort AS (SELECT user_id AS u, MIN(day) AS cohort_day FROM ed " +
        "GROUP BY user_id), " +
        "x AS (SELECT DISTINCT user_id, cohort_day, " +
        "(epoch_us(day) - epoch_us(cohort_day)) // 86400000000 AS day_offset " +
        "FROM ed JOIN cohort ON user_id = u) " +
        "SELECT cohort_day, day_offset, COUNT(*) AS n_active FROM x " +
        "GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset"),
    "ts_funnel" ->
      ("WITH anchor AS (SELECT user_id AS u, MIN(ts) AS t_click FROM events " +
        "WHERE event_type = 'click' GROUP BY user_id), " +
        "conv AS (SELECT e.user_id, MIN(e.ts) AS t_conv FROM events e " +
        "JOIN anchor a ON e.user_id = a.u WHERE e.event_type = 'purchase' " +
        "AND e.ts >= a.t_click AND e.ts <= a.t_click + INTERVAL 7 DAY " +
        "GROUP BY e.user_id) " +
        "SELECT a.u AS user_id, a.t_click, c.t_conv, " +
        "c.t_conv IS NOT NULL AS converted " +
        "FROM anchor a LEFT JOIN conv c ON a.u = c.user_id ORDER BY user_id"),
    "ts_downsample_ohlc" ->
      ("SELECT user_id, date_trunc('hour', ts) AS bucket, " +
        "arg_min(value, ts) AS open, MAX(value) AS high, MIN(value) AS low, " +
        "arg_max(value, ts) AS close, COUNT(*) AS n " +
        "FROM events GROUP BY 1, 2 ORDER BY user_id, bucket"),
    "ts_ewma" ->
      ("SELECT user_id, CAST(len(vs) AS BIGINT) AS n, " +
        "list_reduce(vs, (acc, x) -> 0.2 * x + 0.8 * acc) AS ewma " +
        "FROM (SELECT user_id, list(value ORDER BY ts, event_id) AS vs " +
        "FROM events GROUP BY user_id) ORDER BY user_id"),
    "ts_outlier_mad" -> {
      val vc = OSQL.cents("value")
      s"WITH med AS (SELECT event_type AS et1, quantile_cont($vc, 0.5) AS med_c " +
        "FROM events GROUP BY event_type), " +
        s"dev AS (SELECT event_id, event_type, value, $vc AS c, med_c, " +
        s"abs($vc - med_c) AS dv FROM events JOIN med ON event_type = et1), " +
        "mad AS (SELECT event_type AS et2, quantile_cont(dv, 0.5) AS mad_c " +
        "FROM dev GROUP BY event_type) " +
        "SELECT event_id, event_type, value, (c - med_c) / nullif(mad_c, 0) AS mad_score, " +
        "abs((c - med_c) / nullif(mad_c, 0)) > 3.5 AS is_outlier " +
        "FROM dev JOIN mad ON event_type = et2 ORDER BY event_id"
    },
    "ts_gap_detect" ->
      ("SELECT user_id, prev_ts AS gap_start, ts AS gap_end, " +
        "CAST(epoch_us(ts) - epoch_us(prev_ts) AS DOUBLE) / 1000000.0 AS gap_seconds " +
        "FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id) AS prev_ts FROM events) " +
        "WHERE prev_ts IS NOT NULL AND epoch_us(ts) - epoch_us(prev_ts) > 7200000000 " +
        "ORDER BY user_id, gap_start"),
    "ts_asof_enrich" ->
      ("SELECT e.event_id, e.user_id, e.ts, b.value AS signup_value " +
        "FROM events e ASOF LEFT JOIN " +
        "(SELECT user_id, ts, value FROM events WHERE event_type = 'signup') b " +
        "ON e.user_id = b.user_id AND b.ts <= e.ts ORDER BY e.event_id"),
    "ts_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS wstart, " +
        "date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend, event_type, " +
        s"COUNT(*) AS n, ${OSQL.dsum("value")} AS sum_value " +
        "FROM events GROUP BY 1, 2, 3 ORDER BY wstart, event_type"),
    "ts_sliding" ->
      ("SELECT make_timestamp(CAST((floor(epoch(ts) / 900) * 900 - j * 900) " +
        "* 1000000 AS BIGINT)) AS wstart, " +
        s"COUNT(*) AS n, ${OSQL.dsum("value")} AS sum_value " +
        "FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) offs(j) " +
        "GROUP BY 1 ORDER BY wstart"),
    "ts_uptime" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS session_id FROM flagged), " +
        "sess AS (SELECT user_id, session_id, MIN(epoch_us(ts)) AS s_us, " +
        "MAX(epoch_us(ts)) AS e_us FROM numbered GROUP BY user_id, session_id) " +
        "SELECT user_id, CAST(make_timestamp(s_us) AS DATE) AS day, " +
        "COUNT(*) AS n_sessions, CAST(SUM(e_us - s_us) AS BIGINT) AS active_us, " +
        "CAST(SUM(e_us - s_us) AS DOUBLE) / 86400000000.0 AS availability " +
        "FROM sess GROUP BY user_id, day ORDER BY user_id, day"),
    "ts_sessionize" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_sess FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "numbered AS (SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS session_id FROM flagged) " +
        "SELECT user_id, session_id, MIN(ts) AS session_start, " +
        "MAX(ts) AS session_end, COUNT(*) AS n_events, " +
        s"${OSQL.dsum("value")} AS sum_value " +
        "FROM numbered GROUP BY user_id, session_id ORDER BY user_id, session_id"),
    "ts_resample_fill" ->
      ("WITH grid AS (SELECT user_id, unnest(generate_series(" +
        "date_trunc('day', MIN(ts)), date_trunc('day', MAX(ts)), " +
        "INTERVAL 1 DAY)) AS day FROM events GROUP BY user_id), " +
        "daily AS (SELECT user_id, day, value AS close_value FROM (" +
        "SELECT user_id, date_trunc('day', ts) AS day, value, " +
        "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1) " +
        "SELECT g.user_id, g.day, " +
        "last_value(d.close_value IGNORE NULLS) OVER (PARTITION BY g.user_id " +
        "ORDER BY g.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS filled_value, d.close_value IS NOT NULL AS is_observed " +
        "FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day " +
        "ORDER BY g.user_id, g.day"),
    "ts_diff_rate" ->
      ("SELECT user_id, event_id, ts, value, " +
        s"CAST(${OSQL.cents("value")} - lag(${OSQL.cents("value")}) OVER w AS DOUBLE) / 100.0 AS delta, " +
        "CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE) / 1000000.0 AS dt_sec, " +
        s"(CAST(${OSQL.cents("value")} - lag(${OSQL.cents("value")}) OVER w AS DOUBLE) / 100.0) / " +
        "(CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER w AS DOUBLE) / 1000000.0) AS rate " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY event_id"),
    "ts_zscore" ->
      ("WITH ps AS (SELECT event_type AS et, CAST(COUNT(*) AS DOUBLE) AS nd, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS DOUBLE) AS sx, " +
        s"CAST(SUM(${OSQL.cents("value")} * ${OSQL.cents("value")}) AS DOUBLE) AS sxx " +
        "FROM events GROUP BY event_type), " +
        "st AS (SELECT et, sx / (100.0 * nd) AS mean_v, " +
        s"sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}) AS std_v " +
        "FROM ps) " +
        "SELECT event_id, event_type, value, (value - mean_v) / nullif(std_v, 0) AS z, " +
        "abs((value - mean_v) / nullif(std_v, 0)) > 3.0 AS is_anomaly " +
        "FROM events JOIN st ON event_type = et ORDER BY event_id"),
    "ts_seasonal_outlier" ->
      ("WITH ev AS (SELECT event_type, " +
        "(epoch_us(ts) // 3600000000) % 24 AS hod, " +
        s"${OSQL.cents("value")} AS vc, value FROM events), " +
        "ps AS (SELECT event_type AS et, hod AS sh, " +
        "CAST(COUNT(*) AS DOUBLE) AS nd, CAST(SUM(vc) AS DOUBLE) AS sx, " +
        "CAST(SUM(vc * vc) AS DOUBLE) AS sxx FROM ev GROUP BY 1, 2), " +
        "prof AS (SELECT et, sh, sx / (100.0 * nd) AS cell_mean, " +
        s"nullif(sqrt(${OSQL.covPowerSums("sxx", "sx", "sx", "nd")}), 0) " +
        "AS sd FROM ps) " +
        "SELECT event_type, CAST(hod AS BIGINT) AS hod, " +
        "CAST(COUNT(*) AS BIGINT) AS n, MAX(cell_mean) AS cell_mean, " +
        "CAST(SUM(CASE WHEN abs((value - cell_mean) / sd) > 2.0 THEN 1 " +
        "ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM ev JOIN prof ON event_type = et AND hod = sh " +
        "GROUP BY event_type, hod ORDER BY event_type, hod"))
}
