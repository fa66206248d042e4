package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Json
import graft.util.Json._

/** Flag windows with excessive sample standard deviation
  * (`/root/reference/tsod/detectors.py:186-219`). Matches pandas
  * `rolling(window, center).std()`: sample stddev (ddof=1), window only
  * valid with exactly `windowSize` non-null values, centered frame
  * `[-⌊w/2⌋, +⌊(w-1)/2⌋]` when `center`. The first row of each series is
  * forced false (`detectors.py:215`). `fit` learns the max RIGHT-ALIGNED
  * rolling stddev even when the detector itself is centered — an asymmetry
  * of the reference (`detectors.py:206` vs `:212`) preserved for parity.
  *
  * The stddev of a window is [[graft.functions.TailStd]] of its
  * `windowSize` rows over the growing frame that ends at the window's
  * last row — one ring push per row and one window operator,
  * bit-identical to Spark's `stddev_samp` over the sliding frame.
  */
final case class RollingStdDevDetector(
    windowSize: Int = 10,
    maxStd: Double = Double.PositiveInfinity,
    center: Boolean = true) extends Detector {

  override def contextRows: Int = windowSize // centered/trailing w-row frame

  override protected def detectImpl(df: DataFrame, spec: SeriesSpec): DataFrame =
    df.withColumn(spec.flag,
      coalesce(RollingStdDevDetector.rollingStd(spec, windowSize, center) > lit(maxStd),
        lit(false)) && row_number().over(spec.w) =!= 1)

  override def fit(df: DataFrame, spec: SeriesSpec = SeriesSpec()): RollingStdDevDetector = {
    validate(df, spec)
    val std = RollingStdDevDetector.rollingStd(spec, windowSize, center = false)
    val row = df.select(std.as("__s")).agg(max(col("__s")).as("m")).head()
    if (row.isNullAt(0)) this else copy(maxStd = row.getDouble(0))
  }

  /** Reference display parity (`detectors.py:218-219` __str__; the
    * reference class is named RollingStandardDeviationDetector). */
  override def toString: String =
    s"RollingStdDevDetector(window_size:$windowSize, max_std:${TsOps.pyFloat(maxStd)})"

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("RollingStdDevDetector"),
    "window_size" -> Json.num(windowSize.toDouble),
    "max_std" -> Json.num(maxStd),
    "center" -> JBool(center)))
}

object RollingStdDevDetector {
  /** Each row's sample stddev over its centered or trailing `windowSize`
    * frame, null unless the frame holds `windowSize` non-null values (the
    * `guarded` rule). A centered frame ends ⌊(w-1)/2⌋ rows ahead, so it is
    * null within that many rows of the series' end, where it is short.
    */
  private[ts] def rollingStd(spec: SeriesSpec, windowSize: Int, center: Boolean): Column = {
    val ahead = if (center) (windowSize - 1) / 2 else 0
    val std = graft.functions.TailStd(TsOps.cleanValue(spec), windowSize)
      .over(TsOps.growingFrame(spec.w, ahead))
    if (ahead == 0) std
    else {
      val (rn, cnt) = TsOps.rowNumberAndCount(spec)
      when(rn <= cnt - ahead, std)
    }
  }

  def fromJson(j: JValue): RollingStdDevDetector = RollingStdDevDetector(
    j("window_size").num.toInt, j("max_std").num,
    j("center") match { case JBool(b) => b; case _ => true })
}
