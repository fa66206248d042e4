package graft.relational

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ts._

/** The tsod detector surface exposed as driver-verifiable queries over the
  * `events` table: one series per `user_id`, ordered by `(ts, event_id)`,
  * signal = `value`. Each query emits the full mask table
  * `(user_id, event_id, value, is_anomaly)` and has a DuckDB oracle that
  * re-states the same window algebra in ANSI SQL.
  *
  * Fitted thresholds that involve real arithmetic (quantiles) are rounded
  * to 6 dp on BOTH sides so engine-specific interpolation ulp cannot flip
  * a comparison; thresholds that are pure selections (max of a column) are
  * embedded exactly.
  */
object DetectorQueries {

  private val spec = SeriesSpec(
    value = "value", orderBy = Seq("ts", "event_id"),
    seriesId = Seq("user_id"))

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private def out(df: DataFrame): DataFrame =
    df.select("user_id", "event_id", "value", spec.flag)

  private def round6(x: Double): Double =
    new JBigDecimal(x).setScale(6, RoundingMode.HALF_UP).doubleValue()

  // window-clause prelude shared by the oracle SQL strings
  private val W = "PARTITION BY user_id ORDER BY ts, event_id"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "det_range" -> ((s, dir) =>
      out(RangeDetector(5.0, 175.0).detect(ev(s, dir), spec))),

    "det_range_fit" -> ((s, dir) => {
      val f = RangeDetector(quantiles = (0.01, 0.99)).fit(ev(s, dir), spec)
      val d = f.copy(minValue = round6(f.minValue), maxValue = round6(f.maxValue))
      out(d.detect(ev(s, dir), spec))
    }),

    "det_diff" -> ((s, dir) =>
      out(DiffDetector(120.0).detect(ev(s, dir), spec))),

    "det_diff_fit" -> ((s, dir) => {
      val d = DiffDetector().fit(ev(s, dir), spec)
      out(d.detect(ev(s, dir), spec))
    }),

    "det_gradient" -> ((s, dir) =>
      out(GradientDetector(0.5).detect(ev(s, dir), spec))),

    "det_rolling_std" -> ((s, dir) =>
      out(RollingStdDevDetector(10, 60.0).detect(ev(s, dir), spec))),

    "det_rolling_std_fit" -> ((s, dir) => {
      val f = RollingStdDevDetector(10).fit(ev(s, dir), spec)
      val d = f.copy(maxStd = round6(f.maxStd))
      out(d.detect(ev(s, dir), spec))
    }),

    "det_constant_value" -> ((s, dir) =>
      out(ConstantValueDetector(3, 1.0).detect(ev(s, dir), spec))),

    "det_constant_gradient" -> ((s, dir) =>
      out(ConstantGradientDetector(3).detect(ev(s, dir), spec))),

    "det_hampel" -> ((s, dir) =>
      out(HampelDetector(5, 3.0).detect(ev(s, dir), spec))),

    "det_combined" -> ((s, dir) =>
      out(CombinedDetector(Seq(
        RangeDetector(5.0, 175.0),
        DiffDetector(120.0),
        HampelDetector(5, 3.0))).detect(ev(s, dir), spec))),

    // the same ensemble through the skew-mitigated chunked evaluator —
    // the driver holds it to the IDENTICAL oracle as det_combined, so
    // chunk-boundary frame relay, positional edge rules, and the
    // validation census (random event cadence makes some chunks thin
    // ⇒ chunked and unchunked series share the one window job) are all
    // hash-pinned
    "det_combined_chunked" -> ((s, dir) =>
      out(ChunkedDetect.detect(CombinedDetector(Seq(
        RangeDetector(5.0, 175.0),
        DiffDetector(120.0),
        HampelDetector(5, 3.0))), ev(s, dir), spec,
        bucketSeconds = 600000L, marginSeconds = 300000L))),

    // Per-series fit (scale generalization): each user_id learns its own
    // thresholds from its even-event_id half, scored over everything.
    "det_range_fit_series" -> ((s, dir) => {
      val e = ev(s, dir)
      out(PerSeriesFit.rangeDetect(e.filter(col("event_id") % 2 === 0), e, spec = spec))
    }),

    "det_diff_fit_series" -> ((s, dir) => {
      val e = ev(s, dir)
      out(PerSeriesFit.diffDetect(e.filter(col("event_id") % 2 === 0), e, spec = spec))
    }),

    // per-series gradient fit (round-12, closing the §2.1.1 fit-series
    // matrix): threshold = each user's max |per-second gradient| over
    // its even-event half. Gradient = one subtraction + one division,
    // both correctly rounded with identical operand order on both
    // engines, so the fitted max needs no rounding.
    "det_gradient_fit_series" -> ((s, dir) => {
      val e = ev(s, dir)
      out(PerSeriesFit.gradientDetect(e.filter(col("event_id") % 2 === 0), e, spec = spec))
    }),

    // per-series rolling-std fit (round-12): fit = max TRAILING
    // window-10 stddev of the even half (the reference's fit asymmetry),
    // detect CENTERED — per-series thresholds rounded to 6 dp in-plan on
    // both sides (the det_rolling_std_fit discipline, per series).
    "det_rolling_std_fit_series" -> ((s, dir) => {
      val e = ev(s, dir)
      out(PerSeriesFit.rollingStdDetect(e.filter(col("event_id") % 2 === 0), e,
        spec = spec, roundTo = 6))
    }),

    // EWMA forecast deviation: the one imperative-path detector (recursive
    // state has no window-frame form). The oracle restates the recursion
    // as a list_reduce over each row's non-null prefix — same
    // left-to-right α·x + (1−α)·acc arithmetic, bit-identical flags.
    "det_ewma" -> ((s, dir) =>
      out(EwmaDetector(alpha = 0.3, threshold = 60.0).detect(ev(s, dir), spec))),

    // Holt level+trend forecast deviation (the trend-aware EWMA
    // sibling); the oracle folds the coupled (s, b) recursion via
    // list_reduce over [x, 0] pairs, same op order, bit-identical flags
    "det_holt" -> ((s, dir) =>
      out(HoltDetector(alpha = 0.5, beta = 0.3, threshold = 60.0)
        .detect(ev(s, dir), spec))),

    // two-sided CUSUM changepoint detection (Page 1954): sustained drift
    // above/below the target accumulates until it trips — level shifts
    // no single-point rule catches. Same mapPartitions recursion shape
    // as det_ewma; the oracle replays the recursion with list_reduce.
    "det_cusum" -> ((s, dir) =>
      out(CusumDetector(target = 90.0, slack = 50.0, threshold = 200.0)
        .detect(ev(s, dir), spec))),

    // the same CUSUM through the max-plus segmented scan (the path a
    // 100M-row hot series needs). The chunk transfer reassociates float
    // additions, so the driver query detects on a dyadic grid — value
    // floored to 1/64ths — where every +/−/max is EXACT in IEEE doubles
    // (all quantities are multiples of 1/64, far below 2^53): chunked ==
    // sequential == oracle bitwise, not just within ulps. The output
    // keeps the original value column; only the detected signal is
    // quantized, mirrored exactly by floor(value*64)/64 in the oracle.
    "det_cusum_chunked" -> ((s, dir) =>
      out(CusumDetector(target = 90.0, slack = 50.0, threshold = 200.0)
        .detectChunked(
          ev(s, dir).withColumn("qvalue", floor(col("value") * 64d) / 64d),
          spec.copy(value = "qvalue"), bucketSeconds = 600000L))),

    // Global z-score outlier flagging (the textbook baseline the
    // reference's RangeDetector-with-quantile-fit generalizes): per
    // series, |value − mean| > 3σ. One aggregate + one broadcast join
    // back — no window pass at all.
    "det_zscore" -> ((s, dir) => {
      val e = ev(s, dir)
      // single-row series: Spark's stddev_samp is NaN where DuckDB's is
      // NULL — the flag happens to agree (NaN-largest vs NULL-coalesce)
      // but the guard makes the parity explicit, not data-dependent
      val sd = stddev_samp("value")
      val stats = e.groupBy("user_id")
        .agg(round(avg("value"), 6).as("__mu"),
          round(when(isnan(sd), lit(null)).otherwise(sd), 6).as("__sd"))
      // stats is one row per series — it grows with sensor count, so no
      // forced broadcast: the join is already keyed by user_id and AQE
      // picks broadcast at small scale by itself.
      e.join(stats, Seq("user_id"), "left")
        .select(col("user_id"), col("event_id"), col("value"),
          coalesce(abs(col("value") - col("__mu")) > lit(3.0) * col("__sd"),
            lit(false)).as("is_anomaly"))
    }),

    // Global robust outliers (the per-series GLOBAL form of Hampel's
    // rolling rule): |value − median| > 3 · 1.4826 · MAD. Two exact-
    // percentile aggregates chained by broadcast joins — medians are
    // sort-exact on both engines, no rounding needed until the flag.
    "det_mad" -> ((s, dir) => {
      val e = ev(s, dir)
      val med = e.groupBy("user_id")
        .agg(percentile(col("value"), lit(0.5)).as("__med"))
      // med/mad are one row per series (grow with sensor count): plain
      // keyed joins, AQE decides broadcast by measured size.
      val withMed = e.join(med, Seq("user_id"), "left")
      val mad = withMed.groupBy("user_id")
        .agg(percentile(abs(col("value") - col("__med")), lit(0.5)).as("__mad"))
      withMed.join(mad, Seq("user_id"), "left")
        .select(col("user_id"), col("event_id"), col("value"),
          coalesce(
            abs(col("value") - col("__med")) > lit(3.0) * lit(1.4826) * col("__mad"),
            lit(false)).as("is_anomaly"))
    }),

    // Rolling Pearson correlation of the signal with its own lag-1
    // (local persistence / trend-break analytic) over a centered
    // 25-row window; incomplete edges and zero-variance windows null.
    "det_rolling_corr" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val f = w.rowsBetween(-12, 12)
      // zero-variance (or constant-lag) frames: Spark's corr is NaN,
      // DuckDB's is NULL — normalize to NULL so hash parity does not
      // depend on the generated data never hitting a flat window
      val rho = corr(col("value"), col("__lag")).over(f)
      ev(s, dir)
        .withColumn("__lag", lag("value", 1).over(w))
        .withColumn("rho", round(when(isnan(rho), lit(null)).otherwise(rho), 6))
        .select("user_id", "event_id", "value", "rho")
    }),

    // Seasonal deviation via the as-of join: compare each reading to
    // the latest reading ≥ 24h older (daily-cycle baseline), with a 6h
    // staleness tolerance — the event cadence is irregular, so "value
    // 24h ago" is an as-of lookup, not a fixed lag. One union + one
    // windowed scan (AsOf's no-join-node shape), no self-join.
    "det_seasonal" -> ((s, dir) => {
      val e = ev(s, dir)
      val shifted = e.select(col("user_id"),
        (col("ts") + expr("INTERVAL 24 HOURS")).as("ts"),
        col("event_id"), col("value"))
      AsOf.join(e, shifted, Seq("user_id"), "ts",
          rightId = "event_id", rightVals = Seq("value"),
          tolerance = Some("'6' HOUR"))
        .select(col("user_id"), col("event_id"), col("value"),
          coalesce(abs(col("value") - col("value_r")) > 100.0, lit(false))
            .as("is_anomaly"))
    }),

    // §2.2 feature operators through the oracle gate: lagged copies
    // (features.py:19-23 semantics — negative lag looks ahead) ...
    "det_lag_features" -> ((s, dir) =>
      Features.lagTimeSeries(ev(s, dir), Seq(1, 2, -1), spec)
        .select(col("user_id"), col("event_id"), col("value"),
          col("1").as("lag_1"), col("2").as("lag_2"),
          col("-1").as("lead_1"))),

    // ... and the windowed tensor dataset (features.py:26-32), exploded
    // to one row per (window, step) so the hash compare sees scalars
    "det_create_dataset" -> ((s, dir) =>
      Features.createDataset(ev(s, dir), Seq("value"), "value",
          timeSteps = 3, spec)
        .select(col("user_id"), col("event_id"), col("label"),
          posexplode(col("features")).as(Seq("step", "xa")))
        .select(col("user_id"), col("event_id"),
          (col("step") + 1).cast("long").as("step"),
          element_at(col("xa"), 1).as("x"), col("label"))),

    // Time-bucketed resampling (the pandas `.resample()` analog): one
    // aggregation over Spark's built-in event-time window.
    "det_resample_1h" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"),
          round(avg("value"), 6).as("avg_value"),
          min("value").as("min_value"),
          max("value").as("max_value"))
        .select(col("user_id"), unix_micros(col("w.start")).as("bucket_us"),
          col("n"), col("avg_value"), col("min_value"), col("max_value"))),

    // OHLC-style resampling: first/last by (ts, event_id) plus min/max
    // per 6h bucket — deterministic open/close via the struct-min trick
    // (one hash aggregate, no window pass at all)
    "det_resample_ohlc" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "6 hours").as("w"))
        .agg(
          min(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("open"),
          max("value").as("high"), min("value").as("low"),
          max(struct(col("ts"), col("event_id"), col("value")))
            .getField("value").as("close"))
        .select(col("user_id"), unix_micros(col("w.start")).as("bucket_us"),
          col("open"), col("high"), col("low"), col("close"))),

    // Linear gap interpolation: 'error' events stand in for QC-masked
    // readings (deterministic nulls), filled between non-null neighbors
    // unless they bracket more than 24h (a real outage stays null).
    "det_interpolate" -> ((s, dir) => {
      val masked = ev(s, dir).withColumn("value",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      Interpolate.linear(masked, spec, maxGapSeconds = Some(86400.0))
        .select(col("user_id"), col("event_id"),
          round(col("value"), 6).as("value"), col("interpolated"))
    })
  )

  private val oracleBase: Map[String, String] = Map(
    "det_ewma" ->
      s"""WITH s AS (SELECT user_id, event_id, value,
                list(value) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev
              FROM events),
              e AS (SELECT user_id, event_id, value,
                list_filter(prev, x -> x IS NOT NULL) AS pv FROM s)
          SELECT user_id, event_id, value,
            CASE WHEN value IS NULL OR pv IS NULL OR len(pv) = 0 THEN false
                 ELSE abs(value - list_reduce(pv,
                   (acc, x) -> 0.3 * x + 0.7 * acc)) > 60.0
            END AS is_anomaly
          FROM e""",

    // the [x, 0] pair transform makes list_reduce's first-element init
    // equal the scan's seed (s = x0, b = 0); s1 is inlined twice in the
    // lambda (no local bindings in SQL lambdas) with the scan's exact
    // operand order
    "det_holt" ->
      s"""WITH s AS (SELECT user_id, event_id, value,
                list_filter(list(value) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  x -> x IS NOT NULL) AS pv
              FROM events),
              h AS (SELECT user_id, event_id, value,
                CASE WHEN len(pv) = 0 THEN NULL
                     ELSE list_reduce(list_transform(pv, x -> [x, 0.0]),
                       (acc, el) -> [0.5 * el[1] + 0.5 * (acc[1] + acc[2]),
                         0.3 * ((0.5 * el[1] + 0.5 * (acc[1] + acc[2]))
                           - acc[1]) + 0.7 * acc[2]])
                END AS st
              FROM s)
          SELECT user_id, event_id, value,
            coalesce(abs(value - (st[1] + st[2])) > 60.0, false) AS is_anomaly
          FROM h""",

    "det_range" ->
      s"""SELECT user_id, event_id, value,
          coalesce(value < 5.0 OR value > 175.0, false) AS is_anomaly
          FROM events""",

    // replays S+ = max(0, S + x - (target+slack)) and
    // S- = max(0, S - x + (target-slack)) over the non-null prefix
    // INCLUDING the current row; identical +/- ordering to the Spark scan
    "det_cusum" ->
      s"""WITH s AS (SELECT user_id, event_id, value,
                list_filter(list(value) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  x -> x IS NOT NULL) AS pv
              FROM events)
          SELECT user_id, event_id, value,
            CASE WHEN value IS NULL THEN false
                 ELSE list_reduce(list_prepend(0.0, pv),
                        (acc, x) -> greatest(0.0, acc + x - 140.0)) > 200.0
                   OR list_reduce(list_prepend(0.0, pv),
                        (acc, x) -> greatest(0.0, acc - x + 40.0)) > 200.0
            END AS is_anomaly
          FROM s""",

    // identical recursion to det_cusum but over the 1/64-grid signal —
    // exact dyadic arithmetic on both engines, so the segmented-scan
    // Spark path must match BITWISE (no ulp allowance anywhere)
    "det_cusum_chunked" ->
      s"""WITH s AS (SELECT user_id, event_id, value,
                list_filter(list(floor(value * 64) / 64) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  x -> x IS NOT NULL) AS pv
              FROM events)
          SELECT user_id, event_id, value,
            CASE WHEN value IS NULL THEN false
                 ELSE list_reduce(list_prepend(0.0, pv),
                        (acc, x) -> greatest(0.0, acc + x - 140.0)) > 200.0
                   OR list_reduce(list_prepend(0.0, pv),
                        (acc, x) -> greatest(0.0, acc - x + 40.0)) > 200.0
            END AS is_anomaly
          FROM s""",

    "det_range_fit" ->
      s"""WITH q AS (SELECT round(quantile_cont(value, 0.01), 6) AS lo,
                            round(quantile_cont(value, 0.99), 6) AS hi FROM events)
          SELECT user_id, event_id, value,
          coalesce(value < q.lo OR value > q.hi, false) AS is_anomaly
          FROM events, q""",

    "det_diff" ->
      s"""SELECT user_id, event_id, value,
          coalesce(abs(value - lag(value) OVER ($W)) > 120.0, false) AS is_anomaly
          FROM events""",

    "det_diff_fit" ->
      s"""WITH d AS (SELECT user_id, event_id, value,
                            value - lag(value) OVER ($W) AS dv FROM events),
               m AS (SELECT max(dv) AS t FROM d)
          SELECT user_id, event_id, value,
          coalesce(abs(dv) > m.t, false) AS is_anomaly FROM d, m""",

    "det_gradient" ->
      s"""SELECT user_id, event_id, value,
          coalesce(abs((value - lag(value) OVER ($W)) /
            ((epoch_us(ts) - lag(epoch_us(ts)) OVER ($W)) / 1000000.0)) > 0.5,
            false) AS is_anomaly
          FROM events""",

    "det_rolling_std" ->
      s"""WITH b AS (
            SELECT user_id, event_id, value, row_number() OVER w AS rn,
              CASE WHEN count(value) OVER f = 10
                   THEN stddev_samp(value) OVER f END AS std
            FROM events
            WINDOW w AS ($W),
                   f AS ($W ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING))
          SELECT user_id, event_id, value,
          (coalesce(std > 60.0, false) AND rn <> 1) AS is_anomaly FROM b""",

    "det_rolling_std_fit" ->
      s"""WITH r AS (
            SELECT user_id, event_id, value, row_number() OVER w AS rn,
              CASE WHEN count(value) OVER t = 10
                   THEN stddev_samp(value) OVER t END AS tstd,
              CASE WHEN count(value) OVER f = 10
                   THEN stddev_samp(value) OVER f END AS std
            FROM events
            WINDOW w AS ($W),
                   t AS ($W ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
                   f AS ($W ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING)),
               m AS (SELECT round(max(tstd), 6) AS thr FROM r)
          SELECT user_id, event_id, value,
          (coalesce(std > m.thr, false) AND rn <> 1) AS is_anomaly FROM r, m""",

    "det_constant_value" ->
      s"""WITH b AS (
            SELECT user_id, ts, event_id, value, row_number() OVER w AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt,
              CASE WHEN count(value) OVER f = 3
                   THEN max(value) OVER f - min(value) OVER f END AS spread
            FROM events
            WINDOW w AS ($W),
                   f AS ($W ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
               m AS (
            SELECT *, (coalesce(abs(spread) < 1.0, false)
                       AND rn <> 1 AND rn <> cnt) AS base FROM b)
          SELECT user_id, event_id, value,
          (base OR coalesce(lag(base) OVER ($W), false)
                OR coalesce(lead(base) OVER ($W), false)) AS is_anomaly
          FROM m""",

    "det_constant_gradient" ->
      s"""WITH g AS (
            SELECT user_id, ts, event_id, value, row_number() OVER w AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt,
              (value - lag(value) OVER w) /
                ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS gf,
              (value - lead(value) OVER w) /
                ((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS gb
            FROM events WINDOW w AS ($W)),
               s AS (
            SELECT *,
              CASE WHEN count(gf) OVER f = 3
                   THEN max(gf) OVER f - min(gf) OVER f END AS sf,
              CASE WHEN count(gb) OVER f = 3
                   THEN max(gb) OVER f - min(gb) OVER f END AS sb
            FROM g WINDOW f AS ($W ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)),
               m AS (
            SELECT *, (coalesce(abs(sf) < 1e-7, false) AND rn <> 1 AND rn <> cnt) AS bf,
                      (coalesce(abs(sb) < 1e-7, false) AND rn <> 1 AND rn <> cnt) AS bb
            FROM s)
          SELECT user_id, event_id, value,
          ((bf OR coalesce(lag(bf) OVER ($W), false)
               OR coalesce(lead(bf) OVER ($W), false)) OR
           (bb OR coalesce(lag(bb) OVER ($W), false)
               OR coalesce(lead(bb) OVER ($W), false))) AS is_anomaly
          FROM m""",

    "det_hampel" ->
      s"""WITH b AS (
            SELECT user_id, event_id, value, row_number() OVER w AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt,
              median(value) OVER f AS med,
              mad(value) OVER f AS madv
            FROM events
            WINDOW w AS ($W),
                   f AS ($W ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING))
          SELECT user_id, event_id, value,
          (rn > 5 AND rn <= cnt - 5 AND
           coalesce(abs(value - med) > 3.0 * (1.4826 * madv), false)) AS is_anomaly
          FROM b""",

    "det_combined" ->
      s"""WITH h AS (
            SELECT user_id, event_id, value, row_number() OVER w AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt,
              lag(value) OVER w AS pv,
              median(value) OVER f AS med,
              mad(value) OVER f AS madv
            FROM events
            WINDOW w AS ($W),
                   f AS ($W ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING))
          SELECT user_id, event_id, value,
          (coalesce(value < 5.0 OR value > 175.0, false) OR
           coalesce(abs(value - pv) > 120.0, false) OR
           (rn > 5 AND rn <= cnt - 5 AND
            coalesce(abs(value - med) > 3.0 * (1.4826 * madv), false))) AS is_anomaly
          FROM h""",

    "det_range_fit_series" ->
      s"""WITH f AS (SELECT user_id, min(value) AS mn, max(value) AS mx
                     FROM events WHERE event_id % 2 = 0 GROUP BY user_id)
          SELECT e.user_id, e.event_id, e.value,
            coalesce(e.value < f.mn OR e.value > f.mx, false) AS is_anomaly
          FROM events e LEFT JOIN f USING (user_id)""",

    // latest (shifted-ts <= e.ts) match first, THEN the tolerance test —
    // mirroring AsOf.join's match-then-tolerance order exactly
    "det_seasonal" ->
      s"""SELECT e.user_id, e.event_id, e.value,
          coalesce(CASE WHEN m.mts >= e.ts - INTERVAL 6 HOUR
                        THEN abs(e.value - m.v) > 100.0 END, false) AS is_anomaly
          FROM events e LEFT JOIN LATERAL (
            SELECT r.ts + INTERVAL 24 HOUR AS mts, r.value AS v FROM events r
            WHERE r.user_id = e.user_id AND r.ts + INTERVAL 24 HOUR <= e.ts
            ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) m ON true""",

    "det_zscore" ->
      s"""WITH st AS (SELECT user_id, round(avg(value), 6) AS mu,
                        round(stddev_samp(value), 6) AS sd
                      FROM events GROUP BY user_id)
          SELECT e.user_id, e.event_id, e.value,
            coalesce(abs(e.value - st.mu) > 3.0 * st.sd, false) AS is_anomaly
          FROM events e LEFT JOIN st USING (user_id)""",

    "det_mad" ->
      s"""WITH med AS (SELECT user_id, median(value) AS m FROM events
                       GROUP BY user_id),
            mad AS (SELECT e.user_id, median(abs(e.value - med.m)) AS d
                    FROM events e JOIN med USING (user_id)
                    GROUP BY e.user_id)
          SELECT e.user_id, e.event_id, e.value,
            coalesce(abs(e.value - med.m) > 3.0 * 1.4826 * mad.d, false)
              AS is_anomaly
          FROM events e
          LEFT JOIN med USING (user_id)
          LEFT JOIN mad USING (user_id)""",

    "det_rolling_corr" ->
      s"""WITH l AS (SELECT user_id, event_id, value, ts,
                       lag(value, 1) OVER ($W) AS lv
                     FROM events)
          SELECT user_id, event_id, value,
            round(corr(value, lv) OVER ($W
              ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING), 6) AS rho
          FROM l""",

    "det_lag_features" ->
      s"""SELECT user_id, event_id, value,
          lag(value, 1) OVER ($W) AS lag_1,
          lag(value, 2) OVER ($W) AS lag_2,
          lead(value, 1) OVER ($W) AS lead_1
          FROM events""",

    "det_create_dataset" ->
      s"""WITH t AS (SELECT user_id, event_id, value,
              list(value) OVER ($W ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING)
                AS features,
              lead(value, 3) OVER ($W) AS label,
              row_number() OVER ($W) AS rn,
              count(*) OVER (PARTITION BY user_id) AS cnt
            FROM events),
            k AS (SELECT * FROM t WHERE rn <= cnt - 3)
          SELECT user_id, event_id, i AS step, features[i] AS x, label
          FROM k, unnest(generate_series(1, len(features))) u(i)""",

    "det_resample_1h" ->
      s"""SELECT user_id,
          epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket_us,
          count(*) AS n,
          round(avg(value), 6) AS avg_value,
          min(value) AS min_value,
          max(value) AS max_value
          FROM events GROUP BY user_id, time_bucket(INTERVAL 1 HOUR, ts)""",

    "det_resample_ohlc" ->
      s"""WITH b AS (SELECT user_id,
                epoch_us(time_bucket(INTERVAL 6 HOUR, ts)) AS bucket_us,
                ts, event_id, value
              FROM events),
            w AS (SELECT *,
                row_number() OVER (PARTITION BY user_id, bucket_us
                  ORDER BY ts, event_id) AS ra,
                row_number() OVER (PARTITION BY user_id, bucket_us
                  ORDER BY ts DESC, event_id DESC) AS rd
              FROM b)
          SELECT user_id, bucket_us,
            max(CASE WHEN ra = 1 THEN value END) AS open,
            max(value) AS high, min(value) AS low,
            max(CASE WHEN rd = 1 THEN value END) AS close
          FROM w GROUP BY user_id, bucket_us""",

    "det_interpolate" ->
      s"""WITH m AS (SELECT user_id, event_id, ts,
                CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
              FROM events),
            b AS (SELECT user_id, event_id, value,
                CAST(epoch_us(ts) AS DOUBLE) AS t,
                last_value(value IGNORE NULLS) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v0,
                last_value(CASE WHEN value IS NOT NULL
                    THEN CAST(epoch_us(ts) AS DOUBLE) END IGNORE NULLS) OVER ($W
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS t0,
                first_value(value IGNORE NULLS) OVER ($W
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v1,
                first_value(CASE WHEN value IS NOT NULL
                    THEN CAST(epoch_us(ts) AS DOUBLE) END IGNORE NULLS) OVER ($W
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS t1
              FROM m)
          SELECT user_id, event_id,
            round(CASE WHEN value IS NOT NULL THEN value
              WHEN v0 IS NOT NULL AND v1 IS NOT NULL AND (t1 - t0) <= 86400 * 1e6
              THEN v0 + (v1 - v0) * (t - t0) / (t1 - t0) END, 6) AS value,
            (value IS NULL AND v0 IS NOT NULL AND v1 IS NOT NULL
              AND (t1 - t0) <= 86400 * 1e6) AS interpolated
          FROM b""",

    "det_diff_fit_series" ->
      s"""WITH t AS (SELECT user_id, value,
                       value - lag(value) OVER ($W) AS dv
                     FROM events WHERE event_id % 2 = 0),
               f AS (SELECT user_id, max(dv) AS md FROM t GROUP BY user_id)
          SELECT e.user_id, e.event_id, e.value,
            coalesce(abs(e.value - lag(e.value) OVER (PARTITION BY e.user_id
              ORDER BY e.ts, e.event_id)) > f.md, false) AS is_anomaly
          FROM events e LEFT JOIN f USING (user_id)""",

    // gradient over the even half, threshold = per-user max |Δv/Δt| —
    // one exactly-rounded subtraction + division per row, identical
    // operand order on both engines, so no rounding is needed
    "det_gradient_fit_series" ->
      s"""WITH t AS (SELECT user_id,
                       abs((value - lag(value) OVER ($W)) /
                         ((epoch_us(ts) - lag(epoch_us(ts)) OVER ($W))
                           / 1000000.0)) AS g
                     FROM events WHERE event_id % 2 = 0),
               f AS (SELECT user_id, max(g) AS mg FROM t GROUP BY user_id)
          SELECT e.user_id, e.event_id, e.value,
            coalesce(abs((e.value - lag(e.value) OVER (PARTITION BY e.user_id
                ORDER BY e.ts, e.event_id)) /
              ((epoch_us(e.ts) - lag(epoch_us(e.ts)) OVER (PARTITION BY
                e.user_id ORDER BY e.ts, e.event_id)) / 1000000.0)) > f.mg,
              false) AS is_anomaly
          FROM events e LEFT JOIN f USING (user_id)""",

    // fit = max TRAILING window-10 stddev of the even half (rounded
    // 6 dp, per series), detect = CENTERED window over everything
    "det_rolling_std_fit_series" ->
      s"""WITH t AS (
            SELECT user_id,
              CASE WHEN count(value) OVER f = 10
                   THEN stddev_samp(value) OVER f END AS tstd
            FROM events WHERE event_id % 2 = 0
            WINDOW f AS ($W ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
               m AS (SELECT user_id, round(max(tstd), 6) AS thr FROM t
                     GROUP BY user_id),
               r AS (
            SELECT user_id, event_id, value, row_number() OVER w AS rn,
              CASE WHEN count(value) OVER f = 10
                   THEN stddev_samp(value) OVER f END AS std
            FROM events
            WINDOW w AS ($W),
                   f AS ($W ROWS BETWEEN 5 PRECEDING AND 4 FOLLOWING))
          SELECT r.user_id, r.event_id, r.value,
            (coalesce(r.std > m.thr, false) AND rn <> 1) AS is_anomaly
          FROM r LEFT JOIN m USING (user_id)"""
  )

  // chunked evaluation is an execution strategy, not a semantics change:
  // det_combined_chunked is held to det_combined's oracle, VERBATIM
  val oracle: Map[String, String] =
    oracleBase + ("det_combined_chunked" -> oracleBase("det_combined"))
}
