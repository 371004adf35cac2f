package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-log analytics: cohort retention and ordered funnels — the two
  * canonical "did the user come back / get to the end" queries over an
  * events table.
  *
  * Both shuffle exclusively on the user key (one exchange each side), so
  * they scale with user count, never with event count per partition:
  * the per-user work is a window or a min-aggregate, and the final
  * matrices are |cohorts|² / |steps|-sized — driver-safe at any volume.
  */
object EventAnalytics {

  /** Cohort retention matrix: users bucketed by the period of their FIRST
    * activity (the cohort); for each later period, how many of them were
    * active. Output: (cohort_period, period_offset, n_users), offset 0 =
    * the cohort's own period.
    *
    * `periodSeconds` buckets event time by epoch-seconds division —
    * deterministic and engine-portable (calendar weeks are not: week-start
    * conventions differ across engines). */
  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
      periodSeconds: Long): DataFrame = {
    val period = floor(unix_timestamp(col(tsCol)) / periodSeconds)
    val activity = events
      .select(col(userCol).as("u"), period.cast("long").as("p"))
      .distinct()
    val cohorts = activity.groupBy("u").agg(min("p").as("cohort_p"))
    activity.join(cohorts, "u")
      .groupBy(col("cohort_p").as("cohort_period"),
        (col("p") - col("cohort_p")).as("period_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order transition counts of the per-user event sequence (the
    * Markov-chain edge table behind "what do users do next"): events
    * ordered by time within each user, paired with `lead`, counted per
    * (type, next_type). One user-keyed window + one tiny aggregate.
    * Same-timestamp ties break on `tieCol` for determinism. */
  def transitionCounts(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(typeCol).as("event_type"),
        lead(col(typeCol), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
  }

  /** Event-time rolling aggregate: mean/sum of `valueCol` over the
    * trailing `windowSeconds` (inclusive) per user — a RANGE frame over
    * epoch seconds, so rows with sparse/irregular timestamps weight
    * correctly (a ROWS frame would not). Shuffles once on the user key. */
  def rollingByTime(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, windowSeconds: Long): DataFrame = {
    val w = Window.partitionBy(userCol)
      .orderBy(col("_epoch"))
      .rangeBetween(-windowSeconds, Window.currentRow)
    events
      .withColumn("_epoch", unix_timestamp(col(tsCol)))
      .withColumn("roll_n", count(lit(1)).over(w))
      .withColumn("roll_sum", round(sum(valueCol).over(w), 2))
      .drop("_epoch")
  }

  /** Ordered funnel: for each user, the furthest step reached of
    * `steps = Seq(typeA, typeB, ...)`, where step k counts only if an
    * event of type k happened AT OR AFTER the user's earliest qualifying
    * time of step k−1 (strictly ordered progression). Output:
    * (step_idx, step_name, n_users) — users reaching AT LEAST that step.
    *
    * One aggregate per user computes the earliest qualifying timestamp of
    * every step in a single pass (min of each type filtered by the
    * previous step's min — a fold over struct columns), then one tiny
    * count per step. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "at least one step")
    // earliest ts per (user, type) for the step types only
    val mins = events
      .filter(col(typeCol).isInCollection(steps))
      .groupBy(col(userCol).as("u"))
      .pivot(typeCol, steps)
      .agg(min(col(tsCol)))
    // fold left-to-right: step k's qualifying time = min ts of type k
    // that is >= step k-1's qualifying time. With only the per-(user,
    // type) MIN available, the strictly-ordered check uses that min —
    // the standard "first touch" funnel definition.
    val qualified = steps.indices.foldLeft(mins) { (df, i) =>
      if (i == 0) df.withColumn("_q0", col(steps(0)).cast("timestamp"))
      else df.withColumn(s"_q$i",
        when(col(s"_q${i - 1}").isNotNull &&
          col(steps(i)).cast("timestamp") >= col(s"_q${i - 1}"),
          col(steps(i)).cast("timestamp")))
    }
    val firstAgg = count(col("_q0")).as("_c0")
    val counts = qualified.agg(firstAgg,
      steps.indices.drop(1).map(i => count(col(s"_q$i")).as(s"_c$i")): _*)
    // unpivot the 1-row aggregate plan-side (no driver round-trip)
    counts.select(expr(s"stack(${steps.size}, " +
      steps.indices.map(i =>
        s"CAST($i AS BIGINT), '${steps(i)}', `_c$i`").mkString(", ") +
      ") AS (step_idx, step_name, n_users)"))
  }

  /** Exponentially-weighted moving average of the DAILY event count per
    * series (`S_1 = x_1; S_n = α·x_n + (1−α)·S_{n−1}` over observed days
    * in date order), computed CLOSED-FORM instead of as a sequential
    * recurrence: the weight of observation `i` of `n` is
    * `α·(1−α)^(n−i)` (and `(1−α)^(n−1)` for the first), so one window
    * rank + one weighted sum replaces any per-row state. Engine-portable —
    * the same `pow` algebra restates in SQL — and scale-clean: the heavy
    * shuffle is the daily pre-aggregate; the window runs over
    * days-per-series, which stays tiny forever.
    *
    * Output: (series, n_days, last_day, ewma) with ewma rounded to 6 dp.
    */
  def ewmaDailyCounts(events: DataFrame, seriesCol: String, tsCol: String,
      alpha: Double): DataFrame = {
    val daily = events
      .groupBy(col(seriesCol).as("series"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.partitionBy("series").orderBy("day")
    val wAll = Window.partitionBy("series")
    val weighted = daily
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_w",
        when(col("_rn") === 1, pow(lit(1.0 - alpha), col("_n") - 1))
          .otherwise(lit(alpha) * pow(lit(1.0 - alpha), col("_n") - col("_rn"))))
    weighted.groupBy("series")
      .agg(max("_n").as("n_days"), max("day").as("last_day"),
        round(sum(col("_w") * col("x")), 6).as("ewma"))
  }

  /** Frequent consecutive event-type trigrams per user (sequence mining's
    * workhorse k=3 case): per-user sequences ordered by (ts, tieCol), each
    * window of three consecutive events becomes one pattern occurrence,
    * counted globally with a support cut. Shuffles once on the user key
    * for the windows and once on the (tiny) pattern key. */
  def eventTrigrams(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, tieCol: String, minSupport: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(typeCol).as("_a"),
        lead(col(typeCol), 1).over(w).as("_b"),
        lead(col(typeCol), 2).over(w).as("_c"))
      .filter(col("_b").isNotNull && col("_c").isNotNull)
      .select(concat_ws(">", col("_a"), col("_b"), col("_c")).as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minSupport)
  }

  /** Calendar-densified daily series with forward fill: every series gets
    * one row per day between its first and last active day; days with no
    * events carry the LAST observed value forward (`was_gap` marks them) —
    * the feature-store resampling shape (training joins need dense,
    * aligned series; raw event logs are sparse). The calendar explode is
    * days-per-series-sized; the fill is one window over it. */
  def forwardFillDaily(events: DataFrame, seriesCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(seriesCol).as("series"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val cal = daily.groupBy("series")
      .agg(min("day").as("_d0"), max("day").as("_d1"))
      .select(col("series"), explode(sequence(col("_d0"), col("_d1")))
        .as("day"))
    val w = Window.partitionBy("series").orderBy("day")
    cal.join(daily, Seq("series", "day"), "left")
      .withColumn("x_filled", last("x", ignoreNulls = true).over(w))
      .withColumn("was_gap", col("x").isNull)
      .drop("x")
  }

  /** Classical additive seasonal decomposition of a (dense) daily series:
    * trend = 7-row centered moving average (null at the edges), seasonal =
    * per-weekday mean of the detrended values, residual = x − trend −
    * seasonal. Weekday is epoch-day mod 7 — engine-neutral (SQL DOW
    * conventions differ). Sparse series should be densified first
    * ([[forwardFillDaily]]); all shuffles are series-keyed or
    * weekday-table-sized. */
  def seasonalDecompose(events: DataFrame, seriesCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(seriesCol).as("series"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast("double").as("x"))
    val w = Window.partitionBy("series").orderBy("day").rowsBetween(-3, 3)
    val trended = daily
      .withColumn("_n7", count(lit(1)).over(w))
      .withColumn("trend", when(col("_n7") === 7, avg("x").over(w)))
      .withColumn("dow", pmod(datediff(col("day"), lit("1970-01-01")), lit(7)))
    val seasonal = trended.filter(col("trend").isNotNull)
      .groupBy("series", "dow")
      .agg(avg(col("x") - col("trend")).as("seasonal"))
    trended.join(seasonal, Seq("series", "dow"), "left")
      .select(col("series"), col("day"), col("x"),
        round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("x") - col("trend") - col("seasonal"), 4).as("residual"))
  }

  /** Linear multi-touch attribution: every conversion splits one unit of
    * credit equally over ALL its touch events inside the lookback window
    * (vs [[lastTouchAttribution]]'s winner-take-all). One interval join
    * keyed on the user, one per-conversion count window, one day-keyed
    * rollup of fractional credits. Output: (day, credit, n_touches). */
  def linearAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, touchType: String,
      conversionType: String, windowSeconds: Long): DataFrame = {
    val touches = events.filter(col(typeCol) === touchType)
      .select(col(userCol).as("u"), col(idCol).as("touch_id"),
        col(tsCol).as("tts"))
    val convs = events.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("u"), col(idCol).as("conv_id"),
        col(tsCol).as("cts"))
    val joined = convs.join(touches, Seq("u"))
      .filter(col("tts") < col("cts") &&
        unix_timestamp(col("cts")) - unix_timestamp(col("tts")) <= windowSeconds)
    val wc = Window.partitionBy("conv_id")
    joined
      .withColumn("_n", count(lit(1)).over(wc))
      .groupBy(to_date(col("tts")).as("day"))
      .agg(round(sum(lit(1.0) / col("_n")), 6).as("credit"),
        count(lit(1)).as("n_touches"))
  }

  /** Last-touch attribution: each conversion event is credited to the
    * latest touch event by the same user strictly before it (ordered by
    * (ts, tieCol)) and within `windowSeconds`. One user-keyed window with
    * a running `max` over a (ts, id) struct — lexicographic struct max IS
    * "latest touch so far", and being a max (not `last_value`) it is
    * insensitive to within-frame evaluation order. No self-join: touch
    * and conversion streams stay one pass. */
  def lastTouchAttribution(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, idCol: String, touchType: String,
      conversionType: String, windowSeconds: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .filter(col(typeCol).isin(touchType, conversionType))
      .withColumn("_touch",
        max(when(col(typeCol) === touchType,
          struct(col(tsCol).as("ts"), col(idCol).as("id")))).over(w))
      .filter(col(typeCol) === conversionType && col("_touch").isNotNull &&
        unix_timestamp(col(tsCol)) - unix_timestamp(col("_touch.ts")) <= windowSeconds)
      .select(col(idCol).as("conversion_id"), col("_touch.id").as("touch_id"),
        (unix_timestamp(col(tsCol)) - unix_timestamp(col("_touch.ts")))
          .as("lag_s"))
  }

  /** Autocorrelation of a value series at fixed lags 1..3, computed over
    * MANY independent per-key series and pooled per group: the `lag`
    * windows are partitioned by the (high-cardinality) series key — never
    * one global sort — and the Pearson correlations then aggregate by the
    * (low-cardinality) group with ordinary partial aggregation. Pairs that
    * cross a series boundary never exist (lag is per-partition), so the
    * pooled ACF is exactly "corr over all within-series (x_t, x_{t−k})
    * pairs". Output: (group, n, acf1, acf2, acf3) rounded to 4 dp.
    */
  def pooledAutocorrelation(events: DataFrame, seriesCol: String,
      groupCol: String, tsCol: String, tieCol: String,
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(seriesCol).orderBy(col(tsCol), col(tieCol))
    val v = col(valueCol)
    events
      .select(col(groupCol).as("group"), v.as("x"),
        lag(v, 1).over(w).as("x1"),
        lag(v, 2).over(w).as("x2"),
        lag(v, 3).over(w).as("x3"))
      .groupBy("group")
      .agg(count(lit(1)).as("n"),
        round(corr(col("x"), col("x1")), 4).as("acf1"),
        round(corr(col("x"), col("x2")), 4).as("acf2"),
        round(corr(col("x"), col("x3")), 4).as("acf3"))
  }

  /** Rolling OLS slope per series: over each trailing window of `win`
    * observations (ordered by (ts, tie)), the closed-form simple-
    * regression slope from windowed sufficient statistics
    * (Σx, Σy, Σxy, Σx² over the frame) — the drift detector that, unlike
    * a rolling mean, distinguishes "level shifted" from "still climbing".
    * One series-keyed window, four frame sums, no self-join; emits rows
    * once the frame is full. Degenerate frames (all x equal) yield null.
    * Output: (series, tieCol, slope rounded 6 dp). */
  def rollingOlsSlope(events: DataFrame, seriesCol: String, tsCol: String,
      tieCol: String, xCol: String, yCol: String, win: Int): DataFrame = {
    require(win >= 2, s"rollingOlsSlope: win=$win must be >= 2")
    val w = Window.partitionBy(seriesCol).orderBy(col(tsCol), col(tieCol))
      .rowsBetween(-(win - 1), Window.currentRow)
    val x = col(xCol).cast("double"); val y = col(yCol).cast("double")
    val n = lit(win.toDouble)
    val denom = n * sum(x * x).over(w) - sum(x).over(w) * sum(x).over(w)
    events
      .withColumn("_cnt", count(lit(1)).over(w))
      .withColumn("_den", denom)
      .withColumn("slope", when(col("_cnt") === win && col("_den") =!= 0.0,
        round((n * sum(x * y).over(w) - sum(x).over(w) * sum(y).over(w)) /
          col("_den"), 6)))
      .filter(col("_cnt") === win)
      .select(col(seriesCol).as("series"), col(tieCol), col("slope"))
  }

  /** Kaplan–Meier product-limit survival estimator per group: at each
    * distinct event time t, S(t) = Π_{u ≤ t} (1 − d_u/n_u) with d_u =
    * events at u and n_u = subjects still at risk — the churn /
    * time-to-event curve, correct under right-censoring (censored
    * subjects leave the risk set without an event). The cumulative
    * product runs as exp(Σ ln(·)) over a group-keyed window, so the
    * whole estimator is two group-keyed windows + one aggregate —
    * engine-portable and scale-clean (windows over distinct event
    * times, not subjects). Output: (group, t, n_risk, n_events,
    * survival rounded 6 dp) at event times only. */
  def kaplanMeier(subjects: DataFrame, groupCol: String,
      durationCol: String, eventCol: String): DataFrame = {
    val perT = subjects
      .groupBy(col(groupCol).as("group"),
        col(durationCol).cast("double").as("t"))
      .agg(sum(col(eventCol).cast("int")).as("d"),
        count(lit(1)).as("leaving"))
    val wAfter = Window.partitionBy("group").orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wUpTo = Window.partitionBy("group").orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT
      .withColumn("n_risk", sum("leaving").over(wAfter))
      // the d = n_risk step (everyone left with an event) zeroes the
      // curve; handled by flag, not ln(0) — engines disagree on ln(0)
      .withColumn("_term", when(col("d") < col("n_risk"),
        log(lit(1.0) - col("d").cast("double") / col("n_risk"))))
      .withColumn("_dead",
        max((col("d") === col("n_risk")).cast("int")).over(wUpTo))
      .withColumn("survival", when(col("_dead") === 1, lit(0.0))
        .otherwise(round(exp(
          coalesce(sum("_term").over(wUpTo), lit(0.0))), 6)))
      .filter(col("d") > 0)
      .select(col("group"), col("t"), col("n_risk"),
        col("d").as("n_events"), col("survival"))
  }

  /** Theil–Sen robust slope per group: the median of all pairwise slopes
    * `(y_j − y_i) / (x_j − x_i)` over ordered pairs with distinct x. The
    * pair generation is a group-keyed self-join — O(m²) per group — so the
    * operator carries an explicit size contract like the BPE trainer's:
    * groups larger than `maxGroupSize` fail loudly at plan-build
    * time rather than silently detonating a task. (The standard scale-out
    * is sub-sampling each group to √budget rows first; callers that need
    * it can pre-filter.) Median is `percentile(0.5)` — the linear-
    * interpolation definition shared by DuckDB's `quantile_cont`. Output:
    * (group, n_points, n_pairs, sen_slope rounded to 6 dp).
    */
  def theilSenSlope(df: DataFrame, groupCol: String, xCol: String,
      yCol: String, idCol: String, maxGroupSize: Int = 4096): DataFrame = {
    val sized = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_m"))
    val over = sized.filter(col("_m") > maxGroupSize).limit(1).collect()
    require(over.isEmpty,
      s"theilSenSlope: group ${over.headOption.map(_.get(0))} exceeds " +
        s"maxGroupSize=$maxGroupSize; sub-sample groups or raise the bound")
    val a = df.select(col(groupCol).as("g"), col(xCol).as("xa"),
      col(yCol).as("ya"), col(idCol).as("ia"))
    val b = df.select(col(groupCol).as("g"), col(xCol).as("xb"),
      col(yCol).as("yb"), col(idCol).as("ib"))
    val pairs = a.join(b, Seq("g"))
      .filter(col("ia") < col("ib") && col("xa") =!= col("xb"))
      .select(col("g"),
        ((col("yb") - col("ya")) / (col("xb") - col("xa"))).as("slope"))
    val slopes = pairs.groupBy("g")
      .agg(count(lit(1)).as("n_pairs"),
        round(expr("percentile(slope, 0.5)"), 6).as("sen_slope"))
    df.groupBy(col(groupCol).as("g")).agg(count(lit(1)).as("n_points"))
      .join(slopes, Seq("g"))
      .select(col("g").as("group"), col("n_points"), col("n_pairs"),
        col("sen_slope"))
  }
}
