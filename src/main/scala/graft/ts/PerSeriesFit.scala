package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-series threshold learning — the scale generalization of the
  * reference's fit-on-one-series workflow (`base.py:31-41`): one
  * aggregation pass learns a threshold PER series_id, and detect joins
  * the thresholds back on the series key. With millions of sensors this
  * is one shuffle for fit and one (auto-broadcast when small) join for
  * detect — no driver round-trip per series, unlike looping the
  * reference over sensors.
  *
  * Semantics per series match the corresponding global fit exactly
  * (same quantile / signed-max / max-abs-gradient rules, null handling
  * included). Rows whose series id is null form one series, as in
  * `groupBy`: the thresholds join back null-safe.
  *
  * `train` and `data` are each placed like a detector's input
  * ([[Detector.detect]]): a small frame runs in one partition, so the
  * per-series fit and the series window add no exchange.
  */
object PerSeriesFit {

  /** `data` left-joined with `fitted` (the series ids first, then the
    * thresholds) null-safe on the series ids; keeps `data`'s columns in
    * order, then the thresholds.
    */
  private def withFit(data: DataFrame, fitted: DataFrame, sid: Seq[String]): DataFrame = {
    val keys = sid.indices.map(i => s"__fit_k$i")
    val f = fitted.toDF(keys ++ fitted.columns.drop(sid.length): _*)
    val on = sid.zip(keys).map { case (s, k) => col(s) <=> col(k) }
    data.join(f, on.reduceOption(_ && _).getOrElse(lit(true)), "left").drop(keys: _*)
  }

  /** RangeDetector per series: thresholds = exact quantiles of each
    * series' values (default (0,1) = min/max, `detectors.py:104-119`).
    */
  def rangeDetect(train: DataFrame, data: DataFrame,
      quantiles: (Double, Double) = (0.0, 1.0),
      spec: SeriesSpec = SeriesSpec()): DataFrame = {
    val v = TsOps.cleanValue(spec)
    val fitted = TsOps.place(train).groupBy(spec.seriesId.map(col): _*)
      .agg(percentile(v, lit(quantiles._1)).as("__lo"),
        percentile(v, lit(quantiles._2)).as("__hi"))
      .withColumn("__min", least(col("__lo"), col("__hi")))
      .withColumn("__max", greatest(col("__lo"), col("__hi")))
      .select(spec.seriesId.map(col) :+ col("__min") :+ col("__max"): _*)
    withFit(TsOps.place(data), fitted, spec.seriesId)
      .withColumn(spec.flag,
        coalesce(v < col("__min") || v > col("__max"), lit(false)))
      .drop("__min", "__max")
  }

  /** DiffDetector per series: threshold = each series' SIGNED max
    * consecutive diff (`detectors.py:166-170`).
    */
  def diffDetect(train: DataFrame, data: DataFrame,
      direction: String = "both",
      spec: SeriesSpec = SeriesSpec()): DataFrame = {
    Directions.check(direction)
    val v = TsOps.cleanValue(spec)
    val d = v - lag(v, 1).over(spec.w)
    val fitted = TsOps.place(train).withColumn("__d", d)
      .groupBy(spec.seriesId.map(col): _*)
      .agg(max(col("__d")).as("__max_diff"))
      .select(spec.seriesId.map(col) :+ col("__max_diff"): _*)
    val dd = v - lag(v, 1).over(spec.w)
    val cond = direction match {
      case "both" => abs(dd) > col("__max_diff")
      case "positive" => dd > col("__max_diff")
      case "negative" => dd < -col("__max_diff")
    }
    withFit(TsOps.place(data), fitted, spec.seriesId)
      .withColumn(spec.flag, coalesce(cond, lit(false)))
      .drop("__max_diff")
  }

  /** RollingStdDevDetector per series: threshold = each series' max
    * right-aligned rolling stddev (the reference's fit asymmetry,
    * `detectors.py:205-208`), detect centered by default. `roundTo >= 0`
    * rounds each fitted threshold to that many decimals in-plan — the
    * det_rolling_std_fit oracle discipline (a stddev threshold is real
    * arithmetic, so cross-engine ulp at the comparison boundary is
    * pinned by rounding BOTH sides), applied per series.
    */
  def rollingStdDetect(train: DataFrame, data: DataFrame,
      windowSize: Int = 10, center: Boolean = true,
      spec: SeriesSpec = SeriesSpec(), roundTo: Int = -1): DataFrame = {
    val rawMax = max(col("__s"))
    val trainStd = RollingStdDevDetector.rollingStd(spec, windowSize, center = false)
    val fitted = TsOps.place(train).select(spec.seriesId.map(col) :+ trainStd.as("__s"): _*)
      .groupBy(spec.seriesId.map(col): _*)
      .agg((if (roundTo >= 0) round(rawMax, roundTo) else rawMax).as("__max_std"))
    val std = RollingStdDevDetector.rollingStd(spec, windowSize, center)
    withFit(TsOps.place(data), fitted, spec.seriesId)
      .withColumn(spec.flag,
        coalesce(std > col("__max_std"), lit(false)) && row_number().over(spec.w) =!= 1)
      .drop("__max_std")
  }

  /** GradientDetector per series: threshold = each series' max absolute
    * per-second gradient (`detectors.py:305-309`).
    */
  def gradientDetect(train: DataFrame, data: DataFrame,
      direction: String = "both",
      spec: SeriesSpec = SeriesSpec()): DataFrame = {
    Directions.check(direction)
    val fitted = TsOps.place(train).withColumn("__g", abs(TsOps.gradient(spec)))
      .groupBy(spec.seriesId.map(col): _*)
      .agg(max(col("__g")).as("__max_grad"))
      .select(spec.seriesId.map(col) :+ col("__max_grad"): _*)
    val g = TsOps.gradient(spec)
    val cond = direction match {
      case "both" => abs(g) > col("__max_grad")
      case "positive" => g > col("__max_grad")
      case "negative" => g < -col("__max_grad")
    }
    withFit(TsOps.place(data), fitted, spec.seriesId)
      .withColumn(spec.flag, coalesce(cond, lit(false)))
      .drop("__max_grad")
  }
}
