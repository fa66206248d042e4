package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, TimestampType}

/** Shared window-expression building blocks for the detectors. All pandas
  * parity quirks (SURVEY.md §7.3) are centralized here:
  *   - centered frames are asymmetric for even windows:
  *     `[-⌊w/2⌋, +⌊(w-1)/2⌋]` (pandas `rolling(center=True)`);
  *   - a window aggregate is only valid when the frame holds exactly
  *     `size` non-null values (pandas `min_periods == window` + NaN
  *     poisoning) — the `guarded` combinator;
  *   - time deltas are the *forward* per-row Δt in seconds
  *     (`base.py:85-89`), also used for the backward diff.
  */
private[graft] object TsOps {

  /** k = 1/Φ⁻¹(3/4): Gaussian consistency constant for the MAD
    * (`/root/reference/tsod/hampel.py:14`). */
  val GaussianScaleFactor = 1.4826

  /** Python-style float rendering for the `__str__` display-parity
    * toStrings (`str(3.0)` = "3.0", `str(inf)` = "inf", `str(1e-07)` =
    * "1e-07"). Python switches to scientific below 1e-4 and at/above
    * 1e16 (sign + two-digit exponent, no trailing ".0" mantissa); Java
    * switches at 1e-3/1e7 with an unsigned bare exponent — so both the
    * boundary band and the exponent spelling need mapping.
    */
  private[ts] def pyFloat(d: Double): String =
    if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else if (d.isNaN) "nan"
    else if (d == 0.0) { if (1.0 / d < 0) "-0.0" else "0.0" }
    else if (d == math.rint(d) && math.abs(d) < 1e16) s"${d.toLong}.0"
    else if (math.abs(d) >= 1e-4 && math.abs(d) < 1e16) {
      val s = d.toString
      if (!s.contains("E")) s
      else // 1e-4 ≤ |d| < 1e-3: Java scientific, Python plain decimal
        new java.math.BigDecimal(s).stripTrailingZeros().toPlainString
    } else {
      val Array(mant0, exp0) = d.toString.split("E")
      val mant = if (mant0.endsWith(".0")) mant0.dropRight(2) else mant0
      val e = exp0.toInt
      f"${mant}e${if (e < 0) "-" else "+"}${math.abs(e)}%02d"
    }

  /** Python `f"{x:.1e}"` (differs from Java only for infinities). */
  private[ts] def pyExp(d: Double): String =
    if (d.isPosInfinity) "inf"
    else if (d.isNegInfinity) "-inf"
    else String.format(java.util.Locale.ROOT, "%.1e", Double.box(d))

  /** True when `df` runs best in one partition: its optimized plan's
    * size estimate is at or below AQE's minimum partition size
    * (`spark.sql.adaptive.coalescePartitions.minPartitionSize`) with
    * partition coalescing on. Below that size AQE coalesces a shuffle's
    * output into one partition anyway, so an exchange by series only adds
    * a stage and a job — the window-side counterpart of a broadcast join,
    * trusting the same estimate. Reads plan statistics only and starts no
    * job; a stream is never small.
    */
  def small(df: DataFrame): Boolean = !df.isStreaming && {
    val conf = df.sparkSession.sessionState.conf
    conf.adaptiveExecutionEnabled && conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED) &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }

  /** `df` in one partition, without a shuffle, when it is [[small]]:
    * a clustered or all-tuples requirement above it (a series window, a
    * grouping, a global aggregate) then needs no exchange. Otherwise
    * `df` unchanged.
    */
  def place(df: DataFrame): DataFrame = if (small(df)) df.coalesce(1) else df

  /** Value column with NaN mapped to null. Canonical ingest is NaN → NULL
    * (SURVEY.md §1.2), but this makes every detector NaN-safe regardless:
    * Spark orders NaN greater than any value (so `NaN > max` would flag,
    * where pandas' `NaN > max` is False), while null comparisons yield
    * null → coalesced to false — exactly pandas' behavior.
    */
  def cleanValue(spec: SeriesSpec): Column = {
    val v = spec.valueCol.cast(DoubleType)
    nanvl(v, lit(null).cast(DoubleType))
  }

  def centeredFrame(w: WindowSpec, size: Int): WindowSpec =
    w.rowsBetween(-(size / 2).toLong, ((size - 1) / 2).toLong)

  /** `ROWS BETWEEN UNBOUNDED PRECEDING AND ahead FOLLOWING`: Spark updates
    * an aggregate over this growing frame once per row, so a tail
    * aggregate ([[graft.functions.TailHampel]], [[graft.functions.TailStd]])
    * costs one ring push per row where a bounded sliding frame
    * re-aggregates the whole frame. At row t it reads the rows ending at
    * t+ahead — `lead(tail, ahead)` without a second window operator —
    * except within `ahead` rows of the series' end, where the frame stops
    * growing and it reads the series' last rows instead.
    */
  def growingFrame(w: WindowSpec, ahead: Int): WindowSpec =
    w.rowsBetween(Window.unboundedPreceding, ahead.toLong)

  /** Aggregate over a frame, null unless the frame holds exactly `size`
    * non-null values. `agg` must be a frame-less aggregate Column builder.
    */
  def guarded(agg: Column => Column, value: Column, frame: WindowSpec, size: Int): Column =
    when(count(value).over(frame) === size, agg(value).over(frame))

  /** Forward time delta in seconds: `ts - lag(ts)`, null at series head.
    * Mirrors `base.py:85` (`index.diff().total_seconds()`).
    */
  def dtSeconds(spec: SeriesSpec): Column = {
    val ts = col(spec.ts).cast(TimestampType)
    (unix_micros(ts) - unix_micros(lag(ts, 1).over(spec.w))) / lit(1000000.0)
  }

  /** Per-second rate of change. `periods = 1` (forward): `(x_t - x_{t-1}) / Δt_t`.
    * `periods = -1` (backward): `(x_t - x_{t+1}) / Δt_t` — note the backward
    * difference is divided by the *forward* Δt, reproducing the reference
    * idiosyncrasy at `base.py:89` (`data.diff(periods) / dt` with dt always
    * the +1 index diff).
    */
  def gradient(spec: SeriesSpec, periods: Int = 1): Column = {
    val v = cleanValue(spec)
    val diff = periods match {
      case 1 => v - lag(v, 1).over(spec.w)
      case -1 => v - lead(v, 1).over(spec.w)
      case p if p > 0 => v - lag(v, p).over(spec.w)
      case p => v - lead(v, -p).over(spec.w)
    }
    diff / dtSeconds(spec)
  }

  /** Median of a pre-sorted, null-free array column (numpy `nanmedian`
    * linear rule: middle element, or mean of the two middles; null for an
    * empty array).
    */
  def sortedArrayMedian(sorted: Column): Column = {
    val n = size(sorted)
    // Column `/` is double division — element positions must stay INT
    val midOdd = floor((n + 1) / 2).cast("int")
    val midLo = floor(n / 2).cast("int")
    when(n === 0, lit(null).cast("double"))
      .when(n % 2 === 1, element_at(sorted, midOdd).cast("double"))
      .otherwise(
        (element_at(sorted, midLo) + element_at(sorted, midLo + 1)) / lit(2.0))
  }

  /** 1-based position within the series and series length — used for the
    * reference's positional edge-masking (first/last element forcing,
    * Hampel's unflagged head/tail). The count runs over the ordered
    * window's whole-series frame, so both share one `Window` operator.
    */
  def rowNumberAndCount(spec: SeriesSpec): (Column, Column) =
    (row_number().over(spec.w),
      count(lit(1)).over(spec.w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))

  /** The reference's ConstantValueDetector mask pipeline
    * (`detectors.py:237-249`) applied to an arbitrary pre-materialized
    * column `inCol` of `df` (ConstantGradientDetector reuses it on the
    * gradient columns): centered rolling max-min spread below `threshold`
    * (NaN/short windows never flag), first+last row of each series forced
    * false, then one-step morphological dilation.
    */
  def constantMask(
      df: DataFrame, spec: SeriesSpec, inCol: String, outCol: String,
      windowSize: Int, threshold: Double): DataFrame = {
    val v = col(inCol)
    val frame = centeredFrame(spec.w, windowSize)
    val spread = guarded(max, v, frame, windowSize) - guarded(min, v, frame, windowSize)
    val (rn, cnt) = rowNumberAndCount(spec)
    val base = coalesce(abs(spread) < lit(threshold), lit(false)) &&
      rn =!= 1 && rn =!= cnt
    val baseCol = s"__${outCol}_base"
    df.withColumn(baseCol, base)
      .withColumn(outCol,
        col(baseCol) ||
          coalesce(lag(col(baseCol), 1).over(spec.w), lit(false)) ||
          coalesce(lead(col(baseCol), 1).over(spec.w), lit(false)))
      .drop(baseCol)
  }
}
