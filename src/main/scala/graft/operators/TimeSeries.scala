package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series gap repair — the step after event_resample's
  * densification: the dense grid's EMPTY buckets get linearly
  * interpolated values between the nearest observed neighbors
  * (edges clamp to the nearest observation), turning an irregular
  * event stream into an analysis-ready regular series.
  *
  * Determinism: observed bucket values are exact-decimal sums divided
  * once (the value_outliers idiom); the interpolation itself is one
  * fixed left-associated double expression — prev + (next − prev) ·
  * Δ/span — so both engines produce bit-identical doubles.
  *
  * Scale: bucket aggregation is one map-side-combined shuffle over
  * (type, bucket) keys; the grid is bounded by type-count × time-span
  * (tiny relative to events at any scale) and the neighbor scan is a
  * window over GRID rows, never raw events. A per-type window sort of
  * the grid is the only ordered pass, and its partition is the
  * series, which is exactly the unit a forecasting consumer needs
  * co-located anyway.
  */
object TimeSeries {

  /** Hourly mean-value series per event_type with empty hours filled
    * by linear interpolation: (event_type, hour_us, value_f,
    * observed). */
  def interpolate(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"),
        col("value"))
      .groupBy("event_type", "hour_us")
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("v"))
    val grid = events.groupBy(col("event_type"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .select(col("event_type"), explode(sequence(
        col("lo") - pmod(col("lo"), lit(hourUs)),
        col("hi") - pmod(col("hi"), lit(hourUs)),
        lit(hourUs))).as("hour_us"))
    val joined = grid.join(hourly, Seq("event_type", "hour_us"), "left")
    val w = Window.partitionBy("event_type").orderBy("hour_us")
    val back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsHour = when(col("v").isNotNull, col("hour_us"))
    joined
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
      .withColumn("ph", last(obsHour, ignoreNulls = true).over(back))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
      .withColumn("nh", first(obsHour, ignoreNulls = true).over(fwd))
      .select(col("event_type"), col("hour_us"),
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNull, col("nv"))
          .when(col("nv").isNull, col("pv"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("hour_us") - col("ph")).cast("double") /
              (col("nh") - col("ph")).cast("double")))
          .as("value_f"),
        col("v").isNotNull.as("observed"))
  }

  /** Seasonal-naive forecast over the dense hourly count series: the
    * next `horizon` hours are predicted by repeating the LAST
    * observed period (forecast(T+h) = n(T+h−period)) — the classic
    * no-model baseline every real forecaster must beat, plus the
    * last-period mean as the even-dumber constant baseline. All
    * integer moves except the one mean division, so the forecast is
    * bit-portable.
    *
    * Scale shape: one map-side-combined shuffle to (type, hour)
    * counts; the grid, the last-period window and both baselines are
    * SERIES-row frames (types × period rows), broadcast where joined
    * back. Raw events are scanned once. */
  def forecastSeasonalNaive(events: DataFrame, period: Int = 24,
                            horizon: Int = 24): DataFrame = {
    require(horizon >= 1 && horizon <= period,
      "horizon must be in [1, period] — seasonal-naive repeats the last observed period")
    val hourUs = 3600000000L
    val periodUs = period.toLong * hourUs
    val hourly = events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw"))
    val grid = events.groupBy(col("event_type"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .select(col("event_type"), explode(sequence(
        col("lo") - pmod(col("lo"), lit(hourUs)),
        col("hi") - pmod(col("hi"), lit(hourUs)),
        lit(hourUs))).as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("n_events"))
    val lastH = series.groupBy(col("event_type"))
      .agg(max(col("hour_us")).as("t_last"))
    val lastPeriod = series.join(broadcast(lastH), "event_type")
      .filter(col("hour_us") > col("t_last") - periodUs)
    val baseline = lastPeriod.groupBy(col("event_type"))
      .agg(avg(col("n_events")).as("mean_baseline"))
    lastPeriod
      .filter(col("hour_us") + periodUs <= col("t_last") +
        horizon.toLong * hourUs)
      .join(broadcast(baseline), "event_type")
      .select(col("event_type"),
        (col("hour_us") + periodUs).as("hour_us"),
        col("hour_us").as("source_hour_us"),
        col("n_events").as("forecast_n"),
        col("mean_baseline"))
  }

  /** CUSUM mean-shift changepoint detection over the dense hourly
    * count series: per event_type, the cumulative sum of deviations
    * from the series mean S_t = Σ_{i≤t}(n_i − μ) peaks (in absolute
    * value) at the most likely single change point — the standard
    * offline CUSUM estimator. Emits one row per type: the argmax
    * hour, the CUSUM value there, and the mean level on each side of
    * the split (the "before → after" shift a monitoring consumer
    * acts on).
    *
    * Determinism: counts and their running sums are exact integers;
    * μ is ONE IEEE division, and S_t is the fixed two-op chain
    * `cum − t·μ` (multiply then subtract, each correctly rounded) —
    * bit-identical in any engine. The argmax tie-breaks on the
    * earliest hour; abs() of bit-identical doubles is order-safe.
    * mean_before/mean_after are single divisions of exact integers.
    *
    * Scale shape: one map-side-combined shuffle to (type, hour)
    * counts; the grid, the running sums and the argmax all run over
    * SERIES rows (types × span hours — thousands, not the raw event
    * count), partitioned by the series key. Raw events are scanned
    * once. */
  def changepoint(events: DataFrame): DataFrame = {
    val hourUs = 3600000000L
    val hourly = events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw"))
    val grid = events.groupBy(col("event_type"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .select(col("event_type"), explode(sequence(
        col("lo") - pmod(col("lo"), lit(hourUs)),
        col("hi") - pmod(col("hi"), lit(hourUs)),
        lit(hourUs))).as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = series.groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_total"),
        count(lit(1)).as("n_hours"))
    val scored = series
      .withColumn("t_idx", row_number().over(w).cast("long"))
      .withColumn("cum_n", sum(col("n_events")).over(cum))
      .join(broadcast(totals), "event_type")
      .withColumn("mu",
        col("n_total").cast("double") / col("n_hours").cast("double"))
      .withColumn("cusum",
        col("cum_n").cast("double") - col("t_idx").cast("double") * col("mu"))
    val pick = Window.partitionBy("event_type")
      .orderBy(abs(col("cusum")).desc, col("hour_us"))
    scored
      .withColumn("r", row_number().over(pick))
      .filter(col("r") === 1)
      .select(col("event_type"),
        col("hour_us").as("change_hour_us"),
        col("cusum"),
        col("n_hours"), col("n_total"),
        (col("cum_n").cast("double") / col("t_idx").cast("double"))
          .as("mean_before"),
        when(col("n_hours") > col("t_idx"),
          (col("n_total") - col("cum_n")).cast("double") /
            (col("n_hours") - col("t_idx")).cast("double"))
          .as("mean_after"))
  }

  /** Time-decayed popularity: each event contributes a weight that
    * halves per day of age relative to the newest event in the table
    * (half-life = 1 day), aggregated per event_type — the "what is
    * hot NOW" ranking that a plain count can't express. Pure integer
    * arithmetic: the weight is `1000000 >> age_days` (an exact
    * dyadic decay in parts-per-million), so sums are exact,
    * order-independent longs — bit-portable to any engine, immune to
    * float-summation drift at any row count.
    *
    * Emits per type: raw count, decayed mass, the decayed share of
    * the whole table in ppm (integer floor division), and the rank
    * by decayed mass. Note rank-by-decayed ≠ rank-by-count whenever
    * activity shifted — that divergence is the operator's point.
    *
    * Scale shape: the reference timestamp is one scalar aggregate
    * broadcast to the scan; the weight is map-side; one map-side-
    * combined shuffle to |event_type| rows; the share and rank run
    * over TYPE rows. Raw events are scanned once. */
  def decayedPopularity(events: DataFrame): DataFrame = {
    val dayUs = 86400000000L
    val tRef = events.agg(max(col("ts")).as("t_ref"))
    val weighted = events.crossJoin(broadcast(tRef))
      .select(col("event_type"),
        expr(s"shiftright(cast(1000000 as bigint), " +
          s"cast(least((t_ref - ts) div $dayUs, 62) as int))").as("w_ppm"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("w_ppm")).as("decayed_mass"))
    // total mass and rank share ONE single-partition pass over the
    // |type| frame (whole-frame sum rides the rank window's sort) —
    // a separate scalar agg + cross join would add a third global
    // funnel to the plan for the same 5-row result
    val rk = Window.orderBy(col("decayed_mass").desc, col("event_type"))
    weighted
      .withColumn("t_mass", sum(col("decayed_mass")).over(
        rk.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("decay_rank", row_number().over(rk).cast("long"))
      .select(col("event_type"), col("n_events"), col("decayed_mass"),
        // decimal(38,0) `div` keeps the ×1e6 exact past long range
        // (the Skew.skewReport share idiom) — no wrap at any scale
        expr("cast(cast(decayed_mass as decimal(38,0)) * 1000000" +
          " div t_mass as bigint)").as("decayed_share_ppm"),
        col("decay_rank"))
  }

  /** Trailing-window anomaly detection over the dense hourly count
    * series: each hour's event count is z-scored against the
    * PRECEDING `trailing` hours only (never its own value, never the
    * future — the online-monitoring frame), and flagged when the
    * score exceeds `zThresh`. Runs on the zero-filled grid so silent
    * hours are visible both as history (a quiet baseline) and as
    * anomalies (a traffic outage scores just like a spike).
    *
    * Determinism: counts are integers; the trailing moments stay
    * integer/decimal (squares in decimal(38,0) — no long wrap even at
    * ~1e9 events/hour) until ONE fixed double op chain
    * (mean = s1/n; var = s2/n − mean²; std = √max(var,0);
    * z = (c − mean)/std). IEEE requires sqrt correctly rounded, so
    * both engines produce bit-identical scores (the value_outliers
    * precedent). A flat history (std = 0) flags any departure from
    * the constant instead of dividing by zero.
    *
    * Scale shape: one map-side-combined shuffle to (type, hour)
    * counts; the grid and every window run over SERIES rows (bounded
    * by types × span hours), never raw events. The window partition
    * is the series — exactly the unit a monitoring consumer reads
    * together.
    */
  def anomaly(events: DataFrame, trailing: Int = 24,
              zThresh: Double = 3.0, minHist: Int = 12): DataFrame = {
    val hourUs = 3600000000L
    anomalyFromHourly(events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw")), trailing, zThresh, minHist)
  }

  /** The same monitoring chain from an (event_type, hour_us, n_raw)
    * HOURLY-COUNT frame — the merge target for streaming count
    * shards: hourly counts are associative, so per-micro-batch shards
    * summed equal the one-shot counts, and the grid bounds derived
    * from observed hours equal the raw-timestamp bounds floored
    * (the grid is hourly anyway). */
  def anomalyFromHourly(hourly: DataFrame, trailing: Int = 24,
                        zThresh: Double = 3.0,
                        minHist: Int = 12): DataFrame = {
    require(trailing >= minHist && minHist >= 2,
      "need trailing >= minHist >= 2 hours of history")
    val hourUs = 3600000000L
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs)))
          .as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("n_events"))
    val trail = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(-trailing, -1)
    val dec = col("n_events").cast("decimal(19,0)")
    val stats = series
      .withColumn("n_hist", count(lit(1)).over(trail))
      .withColumn("s1", sum(col("n_events")).over(trail))
      .withColumn("s2", sum(dec * dec).over(trail))
    val nD = col("n_hist").cast("double")
    val mean = col("s1").cast("double") / nD
    val variance = col("s2").cast("double") / nD - col("m") * col("m")
    val cD = col("n_events").cast("double")
    stats
      .withColumn("m", mean)
      .withColumn("sd", sqrt(greatest(variance, lit(0.0))))
      .select(col("event_type"), col("hour_us"), col("n_events"),
        col("n_hist"),
        when(col("n_hist") >= minHist, col("m")).as("mean_trail"),
        when(col("n_hist") >= minHist, col("sd")).as("std_trail"),
        when(col("n_hist") >= minHist && col("sd") > 0,
          (cD - col("m")) / col("sd")).as("z_score"),
        (col("n_hist") >= minHist &&
          ((col("sd") > 0 && abs((cD - col("m")) / col("sd")) > zThresh) ||
            (col("sd") === 0.0 && cD =!= col("m")))).as("is_anomaly"))
  }

  /** Retry/double-fire debounce audit: flags every event arriving
    * within `gapUs` of the PREVIOUS event of the same
    * (user, event_type) — the hygiene pass every event pipeline runs
    * before counting anything (SDK retries, double-clicks, at-least-
    * once replays land as near-instant repeats). Audit form: the full
    * frame ships with the flag so consumers choose drop vs collapse;
    * the flag is against the immediately preceding event (one lag
    * window), the standard debounce audit — a keep-anchored greedy
    * variant is inherently sequential per key and buys little at
    * real gap widths.
    *
    * Scale: one hash shuffle on (user, type); the window is a single
    * lag over each partition's sort — no self-join, no grid. Ties at
    * identical ts order by event_id (deterministic). */
  def debounce(events: DataFrame, gapUs: Long): DataFrame = {
    require(gapUs >= 0, "gapUs must be non-negative")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events.select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", col("ts") - col("prev_ts"))
      .withColumn("is_bounce",
        coalesce(col("gap_us") <= gapUs, lit(false)))
  }

  /** Integer-exact sample autocorrelation of the hourly event-count
    * series, per event type and lag 1..maxLag — the seasonality
    * detector that justifies the `period` choice forecast/anomaly
    * take as a parameter. With S = Σx over the zero-filled hour grid
    * of length n, dev_t = n·x_t − S is the n-scaled centered count;
    * acf_num(L) = Σ_t dev_t·dev_{t+L} and acf_den = Σ_t dev_t² are
    * order-independent exact decimal(38,0) sums, and `acf` =
    * num/den is ONE IEEE division — bit-identical on any engine.
    * Exactness envelope: |dev| < 10¹⁹ (n·x ≲ 10¹⁹ — e.g. a century
    * of hours at 10¹³ events/hour) and dev² sums < 10³⁸.
    *
    * Scale: row-space collapses to the hour grid in one
    * map-side-combined groupBy; the zero-fill, the lag self-join and
    * both sums live on the |types|·|hours| grid frame; per-type
    * stats broadcast. No global sort anywhere. */
  def autocorr(events: DataFrame, maxLag: Int = 24): DataFrame = {
    val hourUs = 3600000000L
    autocorrFromHourly(events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw")), maxLag)
  }

  /** [[autocorr]] from an (event_type, hour_us, n_raw) hourly-count
    * frame — the third monitor on the shared streaming count-shard
    * store (with [[anomalyFromHourly]] and [[crosscorrFromHourly]]). */
  def autocorrFromHourly(hourly: DataFrame,
                         maxLag: Int = 24): DataFrame = {
    require(maxLag >= 1, "need at least lag 1")
    val hourUs = 3600000000L
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs)))
          .as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("x"))
    val stats = series.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = series.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_us"),
        (col("n").cast("decimal(19,0)") * col("x").cast("decimal(12,0)")
          - col("sx").cast("decimal(19,0)")).cast("decimal(19,0)")
          .as("dev"))
    val lags = hourly.sparkSession.range(1, maxLag + 1)
      .select(col("id").as("lag"))
    // equi-join on the SHIFTED hour (probe_hour precomputed) — a hash
    // join sized |grid|·maxLag, never a per-type cross product
    val num = dev.crossJoin(broadcast(lags))
      .withColumn("probe_hour", col("hour_us") + col("lag") * lit(hourUs))
      .join(dev.select(col("event_type"), col("hour_us").as("probe_hour"),
          col("dev").as("b_dev")),
        Seq("event_type", "probe_hour"))
      .groupBy("event_type", "lag")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("dev") * col("b_dev")).cast("decimal(38,0)").as("acf_num"))
    val den = dev.groupBy("event_type")
      .agg(sum(col("dev") * col("dev")).cast("decimal(38,0)")
        .as("acf_den"))
    num.join(broadcast(den), "event_type")
      .select(col("event_type"), col("lag"), col("n_terms"),
        col("acf_num"), col("acf_den"),
        (col("acf_num").cast("double") / col("acf_den").cast("double"))
          .as("acf"))
  }

  /** Integer-exact lead/lag CROSS-correlation between every ordered
    * event-type pair at lags −maxLag..maxLag — [[autocorr]]'s
    * two-series sibling, the "does type A's traffic foreshadow type
    * B's an hour later" discovery (alerting routing, funnel lag
    * estimation, capacity pre-warming). dev_t is each type's n-scaled
    * centered count on its OWN dense hour grid (n·x_t − S, exactly
    * autocorr's); xcorr_num(L) = Σ dev_a(t)·dev_b(t+L) over
    * overlapping hours and each type's dev² sum are exact
    * decimal(38,0), PUBLISHED as digit strings (the r9 contract);
    * `xcorr` = num / (√den_a·√den_b) is one fixed IEEE chain, NULL
    * when either series is constant. Lag 0 is the contemporaneous
    * correlation.
    *
    * Scale: everything lives on the |types|·|hours| grid frame; the
    * lag join is hash-equi on the shifted hour (per-hour fan-out =
    * |types|², never a data×data product); per-type denominators
    * broadcast. */
  def crosscorr(events: DataFrame, maxLag: Int = 12): DataFrame = {
    val hourUs = 3600000000L
    crosscorrFromHourly(events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw")), maxLag)
  }

  /** [[crosscorr]] from an (event_type, hour_us, n_raw) hourly-count
    * frame — shares the streaming count-shard store with
    * [[anomalyFromHourly]] (one store, two continuous monitors):
    * hourly counts are associative and the grid bounds from observed
    * hours equal the raw-timestamp bounds floored. */
  def crosscorrFromHourly(hourly: DataFrame,
                          maxLag: Int = 12): DataFrame = {
    require(maxLag >= 0, "maxLag must be non-negative")
    val hourUs = 3600000000L
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs)))
          .as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("x"))
    val stats = series.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val dev = series.join(broadcast(stats), "event_type")
      .select(col("event_type"), col("hour_us"),
        (col("n").cast("decimal(19,0)") * col("x").cast("decimal(12,0)")
          - col("sx").cast("decimal(19,0)")).cast("decimal(19,0)")
          .as("dev"))
    val den = dev.groupBy("event_type")
      .agg(sum(col("dev") * col("dev")).cast("decimal(38,0)").as("den"))
    val lags = hourly.sparkSession.range(-maxLag.toLong, maxLag + 1L)
      .select(col("id").as("lag"))
    val a = dev.select(col("event_type").as("type_a"), col("hour_us"),
      col("dev").as("dev_a"))
    val b = dev.select(col("event_type").as("type_b"),
      col("hour_us").as("probe_hour"), col("dev").as("dev_b"))
    val num = a.crossJoin(broadcast(lags))
      .withColumn("probe_hour", col("hour_us") + col("lag") * lit(hourUs))
      .join(b, Seq("probe_hour"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b", "lag")
      .agg(count(lit(1)).as("n_terms"),
        sum(col("dev_a") * col("dev_b")).cast("decimal(38,0)")
          .as("xcorr_num"))
    num
      .join(broadcast(den.select(col("event_type").as("type_a"),
        col("den").as("den_a"))), "type_a")
      .join(broadcast(den.select(col("event_type").as("type_b"),
        col("den").as("den_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("lag"), col("n_terms"),
        col("xcorr_num").cast("string").as("xcorr_num"),
        col("den_a").cast("string").as("den_a"),
        col("den_b").cast("string").as("den_b"),
        when(col("den_a") > 0 && col("den_b") > 0,
          col("xcorr_num").cast("double") /
            (sqrt(col("den_a").cast("double")) *
              sqrt(col("den_b").cast("double")))).as("xcorr"))
  }

  /** Classical seasonal decomposition of the dense hourly count
    * series: `n = trend + seasonal + residual` — the moving-average
    * decomposition (STL's non-iterative ancestor) that turns
    * [[autocorr]]'s "period-24 structure exists" evidence into the
    * three series a monitoring consumer actually wants: the level
    * (trend), the repeating shape (seasonal), and the part worth
    * alerting on (residual).
    *
    * trend_t is the centered `period`-term moving average (frame
    * rows −period/2 … period/2−1), defined only where the frame is
    * FULL — edge rows keep their count but carry NULL
    * trend/seasonal/residual (the honest convention: an asymmetric
    * edge average would bias the seasonal fit). seasonal is the
    * per-(type, hour-of-period) mean of the detrended series over
    * full-frame rows, computed from the INTEGER numerator
    * `period·n_t − Σ_frame n` (exact longs, order-independent), so
    * the only doubles are three fixed divisions/subtractions —
    * bit-identical cross-engine. Envelope: period·n per row and the
    * per-(type,hod) numerator sum stay far inside long for any
    * realistic hourly census (≤ 2·10¹⁴ at 10⁹ events/hour over a
    * year).
    *
    * Scale shape: one map-side-combined shuffle to (type, hour)
    * counts; the moving-average window and every later frame run
    * over GRID rows (types × span hours), partitioned on the series
    * key; the (types × period)-row seasonal frame broadcasts back.
    * Raw events are scanned once. */
  def decompose(events: DataFrame, period: Int = 24): DataFrame = {
    val hourUs = 3600000000L
    decomposeFromHourly(events.select(col("event_type"),
        (col("ts") - pmod(col("ts"), lit(hourUs))).as("hour_us"))
      .groupBy("event_type", "hour_us")
      .agg(count(lit(1)).as("n_raw")), period)
  }

  /** [[decompose]] from an (event_type, hour_us, n_raw) hourly-count
    * frame — the fourth consumer of the shared streaming count-shard
    * store (with [[anomalyFromHourly]], [[crosscorrFromHourly]],
    * [[autocorrFromHourly]]): hourly counts are associative and the
    * per-type grid bounds over observed HOURS equal the raw-timestamp
    * bounds floored (hour keys are those floors). */
  def decomposeFromHourly(hourly: DataFrame,
                          period: Int = 24): DataFrame = {
    require(period >= 2 && period % 2 == 0,
      "period must be even: the centered MA frame is -period/2 .. period/2-1")
    val hourUs = 3600000000L
    val grid = hourly.groupBy(col("event_type"))
      .agg(min(col("hour_us")).as("lo"), max(col("hour_us")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"), lit(hourUs)))
          .as("hour_us"))
    val series = grid.join(hourly, Seq("event_type", "hour_us"), "left")
      .select(col("event_type"), col("hour_us"),
        coalesce(col("n_raw"), lit(0L)).as("n_events"))
    val w = Window.partitionBy("event_type").orderBy("hour_us")
      .rowsBetween(-(period / 2), period / 2 - 1)
    val framed = series
      .withColumn("frame_sum", sum(col("n_events")).over(w))
      .withColumn("frame_n", count(lit(1)).over(w))
      .withColumn("hod",
        pmod(expr(s"hour_us div $hourUs"), lit(period.toLong)))
      // integer detrended numerator: period·n − Σ_frame n (full frames)
      .withColumn("det_num",
        when(col("frame_n") === period,
          lit(period.toLong) * col("n_events") - col("frame_sum")))
    val seasonal = framed.filter(col("det_num").isNotNull)
      .groupBy("event_type", "hod")
      .agg(sum(col("det_num")).as("s_num"), count(lit(1)).as("s_cnt"))
    framed.join(broadcast(seasonal), Seq("event_type", "hod"), "left")
      .select(col("event_type"), col("hour_us"), col("n_events"),
        when(col("frame_n") === period,
          col("frame_sum").cast("double") / lit(period.toDouble))
          .as("trend"),
        when(col("det_num").isNotNull,
          col("s_num").cast("double") /
            (lit(period.toDouble) * col("s_cnt").cast("double")))
          .as("seasonal"),
        when(col("det_num").isNotNull,
          col("n_events").cast("double") -
            col("frame_sum").cast("double") / lit(period.toDouble) -
            col("s_num").cast("double") /
              (lit(period.toDouble) * col("s_cnt").cast("double")))
          .as("residual"))
  }

  /** De-seasonalized anomaly detection — [[decompose]]'s residual
    * series put through the MAD modified z-score (the
    * `value_outliers_mad` machinery): a raw-count monitor fires every
    * rush hour; subtracting trend + seasonal first means an alert is
    * something the daily rhythm does NOT explain. Flags full-frame
    * hours where 0.6745·|resid − median(resid)|/MAD(resid) exceeds
    * `threshold`, per event_type.
    *
    * Determinism: residuals are [[decompose]]'s bit-identical fixed
    * chains; median and MAD are exact two-phase quantile COPIES of
    * those doubles (never new arithmetic); the score is one fixed
    * chain. MAD = 0 series are skipped (score undefined — the
    * madOutliers contract). Scale shape: decompose's grid frames +
    * two histogram-shuffle quantile passes + broadcast fence joins;
    * the flag filter is map-side. */
  def seasonalAnomaly(events: DataFrame, period: Int = 24,
                      threshold: Double = 3.5): DataFrame =
    seasonalAnomalyOf(decompose(events, period), threshold)

  /** [[seasonalAnomaly]] from an hourly-count frame — the streaming
    * monitor shape over the shared count-shard store ([[
    * decomposeFromHourly]] supplies identical residuals, so the batch
    * seasonal-anomaly SQL is the oracle). */
  def seasonalAnomalyFromHourly(hourly: DataFrame, period: Int = 24,
                                threshold: Double = 3.5): DataFrame =
    seasonalAnomalyOf(decomposeFromHourly(hourly, period), threshold)

  private def seasonalAnomalyOf(decomposed: DataFrame,
                                threshold: Double): DataFrame = {
    val dec = decomposed
      .filter(col("residual").isNotNull)
      .select(col("event_type"), col("hour_us"), col("n_events"),
        col("residual"))
    val med = Gold.exactGroupQuantiles(dec, "event_type", "residual",
      Seq(0.5), 0.5)
      .select(col("event_type"), col("quantile_value").as("med"))
    val dev = dec.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("residual") - col("med")))
    val mad = Gold.exactGroupQuantiles(dev, "event_type", "dev",
      Seq(0.5), 0.25)
      .select(col("event_type"), col("quantile_value").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .withColumn("mod_z", lit(0.6745) * col("dev") / col("mad"))
      .filter(col("mad") > 0 && col("mod_z") > threshold)
      .select(col("event_type"), col("hour_us"), col("n_events"),
        col("residual"), col("med"), col("mad"), col("mod_z"))
  }

  /** Watermark-lateness audit: replay the stream in `arrivalCol`
    * order and count, per event_type, the events a
    * `withWatermark(delay)` policy would DROP — event-time older
    * than (max event-time seen over all STRICTLY EARLIER arrivals)
    * minus the delay. The sizing study a team runs BEFORE picking a
    * watermark: too tight silently drops the tail this audit
    * surfaces, too loose holds state forever.
    *
    * Scale: the exclusive running max over arrival order is computed
    * two-phase — per-band maxima (one tiny #bands frame gets the
    * exclusive band-prefix max and broadcasts back) + an in-band
    * exclusive running max whose window partition is the band — so
    * NO global sort at any event count; band count is fixed by the
    * arrival key's high bits. All arithmetic integer micros.
    *
    * `arrivalCol` must be non-negative and unique-ish below 2^60
    * (ties break on event_id); `bandShift` splits its high bits into
    * bands. */
  def lateArrivalAudit(events: DataFrame, delayUs: Long,
                       arrivalCol: Column,
                       bandShift: Int = 52): DataFrame =
    withExclusiveWatermark(events, arrivalCol, bandShift)
      .withColumn("late",
        col("wm").isNotNull && col("ts") < col("wm") - delayUs)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("wm") - delayUs - col("ts"))
          .otherwise(0L)).as("max_late_us"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        expr("n_late * 1000000 div n_events").as("late_ppm"),
        col("max_late_us"))

  /** The two-phase exclusive running event-time max over arrival
    * order (shared by [[lateArrivalAudit]] and [[watermarkCurve]]):
    * per-band maxima + a tiny broadcast exclusive band prefix + an
    * in-band window partitioned by band — no global sort. */
  private def withExclusiveWatermark(events: DataFrame,
                                     arrivalCol: Column,
                                     bandShift: Int): DataFrame = {
    val e = events.select(col("event_id"), col("event_type"), col("ts"),
        arrivalCol.as("arr"))
      .withColumn("band", expr(s"arr div ${1L << bandShift}"))
    val bandMax = e.groupBy("band").agg(max("ts").as("bmax"))
    val wb = Window.orderBy("band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bandPrefix = bandMax
      .withColumn("pmax", max(col("bmax")).over(wb))
      .select("band", "pmax")
    val wi = Window.partitionBy("band").orderBy(col("arr"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.join(broadcast(bandPrefix), Seq("band"))
      .withColumn("imax", max(col("ts")).over(wi))
      // explicit null folding — no reliance on engine-specific
      // greatest-with-null semantics
      .withColumn("wm",
        when(col("pmax").isNull, col("imax"))
          .when(col("imax").isNull, col("pmax"))
          .otherwise(greatest(col("pmax"), col("imax"))))
  }

  /** The watermark SIZING curve: [[lateArrivalAudit]] swept over a
    * set of candidate delays in ONE pass — the watermark trajectory
    * is computed once and each event is scored against every
    * candidate via an explode over the (tiny, literal) delay list.
    * The table a team reads to pick the delay: drop rate vs state
    * horizon, per candidate. Output O(|delays| × |event types|). */
  def watermarkCurve(events: DataFrame, delaysUs: Seq[Long],
                     arrivalCol: Column,
                     bandShift: Int = 52): DataFrame = {
    require(delaysUs.nonEmpty, "need at least one candidate delay")
    withExclusiveWatermark(events, arrivalCol, bandShift)
      .select(col("event_type"), col("ts"), col("wm"),
        explode(array(delaysUs.map(lit): _*)).as("delay_us"))
      .withColumn("late",
        col("wm").isNotNull && col("ts") < col("wm") - col("delay_us"))
      .groupBy("event_type", "delay_us")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("wm") - col("delay_us") - col("ts"))
          .otherwise(0L)).as("max_late_us"))
      .select(col("event_type"), col("delay_us"), col("n_events"),
        col("n_late"),
        expr("n_late * 1000000 div n_events").as("late_ppm"),
        col("max_late_us"))
  }
}
