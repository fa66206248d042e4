package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, TimestampType}
import graft.util.Json

/** Base contract for anomaly detectors, mirroring the reference's
  * template-method lifecycle (`/root/reference/tsod/base.py:25-93`):
  * `detect = validate → _detect`, `fit = validate → _fit`. Unlike the
  * reference (mutable `self._param` state set by fit), `fit` returns a NEW
  * fitted detector — fitted thresholds are collected to the driver once and
  * embedded as literals into the lazy detect plan, so `detect` itself
  * triggers no extra Spark jobs.
  *
  * `detect` appends `spec.flag` (BooleanType, never null; True == anomaly)
  * and preserves every input column — the idiom for "show me the anomalous
  * rows" is `detect(df).filter(col(spec.flag))`, matching the reference's
  * `data[anomalies]` usage.
  */
trait Detector extends Serializable {

  /** Append the anomaly-mask column `spec.flag`. Lazy: builds one Catalyst
    * plan, no action is triggered.
    *
    * The input is placed once: a small one (its plan's size estimate at
    * or below AQE's minimum partition size, [[TsOps.small]]) runs in one
    * partition with no shuffle, so the series window and a caller's
    * global aggregate add no exchange; a larger one is left as it is,
    * and the series window plans its one exchange by series. Masks are
    * the same either way.
    */
  final def detect(df: DataFrame, spec: SeriesSpec = SeriesSpec()): DataFrame = {
    validate(df, spec)
    detectImpl(TsOps.place(df), spec)
  }

  /** [[detect]] without placing the input: for an ensemble's members,
    * whose input the ensemble placed once for all of them.
    */
  private[ts] final def detectUnplaced(df: DataFrame, spec: SeriesSpec): DataFrame = {
    validate(df, spec)
    detectImpl(df, spec)
  }

  /** Learn thresholds from (assumed-normal) training data; returns a new
    * fitted detector. Runs one aggregation job (`collect` of a scalar).
    */
  def fit(df: DataFrame, spec: SeriesSpec = SeriesSpec()): Detector = {
    validate(df, spec)
    fitImpl(df, spec)
  }

  protected def detectImpl(df: DataFrame, spec: SeriesSpec): DataFrame

  protected def fitImpl(df: DataFrame, spec: SeriesSpec): Detector = this

  /** Maximum rows of neighbor context `detectImpl` reads on either side
    * of a row (row-bounded window lookback/lookahead, including any
    * mask dilation). 0 = pure per-row; -1 = unbounded (an unchunkable
    * whole-series recursion). Over-approximating is safe; understating
    * breaks [[ChunkedDetect]]'s mask equality. Conservative default: -1.
    */
  def contextRows: Int = -1

  /** Schema validation mirroring `base.py:74-80`; throws
    * [[WrongInputDataTypeError]] like the reference's validate.
    */
  def validate(df: DataFrame, spec: SeriesSpec): Unit = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def missing(c: String) = !fields.contains(c)
    if (missing(spec.value) || spec.orderBy.exists(missing) || spec.seriesId.exists(missing))
      throw new WrongInputDataTypeError(
        s"Input data must be a DataFrame with columns " +
          s"${(spec.seriesId ++ spec.orderBy :+ spec.value).mkString(", ")}; " +
          s"got ${df.schema.fieldNames.mkString(", ")}.")
    if (!fields(spec.value).isInstanceOf[NumericType])
      throw new WrongInputDataTypeError(
        s"Column ${spec.value} must be numeric, got ${fields(spec.value)}.")
  }

  /** Detector class name + parameters as a JSON document (persistence). */
  def toJson: Json.JValue

  def name: String = getClass.getSimpleName.stripSuffix("$")
}

object Detector {

  /** Eager strict-monotonicity assertion mirroring `base.py:86-87` (raises
    * if any within-series time delta < 1e-15 s, which also rejects
    * duplicate timestamps). Opt-in: it costs one scan, so gradient
    * detectors do not run it implicitly at scale.
    */
  def assertStrictlyIncreasing(df: DataFrame, spec: SeriesSpec = SeriesSpec()): Unit = {
    val ts = col(spec.ts).cast(TimestampType)
    val dt = (unix_micros(ts) - unix_micros(lag(ts, 1).over(spec.w))) / lit(1e6)
    // window expr must be materialized before the global aggregate
    val bad = df.select(dt.as("__dt")).agg(min(col("__dt")).as("m")).head().getAs[Any]("m")
    bad match {
      case d: java.lang.Double if d < 1e-15 =>
        throw new IllegalArgumentException("Index must be monotonically increasing")
      case _ => ()
    }
  }
}
