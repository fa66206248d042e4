package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import graft.util.Json
import graft.util.Json._

/** Hampel filter (rolling median ± scaled MAD,
  * `/root/reference/tsod/hampel.py:27-90`): for each interior row t the
  * window is rows `[t-ws, t+ws-1]` (length 2·ws, includes t); anomaly iff
  * `|x_t - median| > threshold · 1.4826 · median(|window - median|)`.
  * The first and last `ws` rows of each series are never flagged (the
  * reference's loop bounds). Nulls are skipped inside windows
  * (`np.nanmedian`) and a null x_t is never an anomaly.
  *
  * The reference needs a numba-JIT'd scalar loop; here both medians come
  * from the custom [[graft.functions.TailHampel]] aggregate of the last
  * 2·ws rows over the growing frame that ends ws-1 rows ahead: for every
  * row the edge rule can flag, those rows are exactly its window. One
  * ring push per row, no UDF, distributed by `seriesId`, and one window
  * operator with the edge rule's row number and count. The values are
  * bit-identical to [[graft.functions.HampelStats]] over the sliding
  * frame. `impl = "builtin"` keeps the pure-built-ins formulation
  * (`collect_list` + `array_sort` + element access over the sliding
  * frame) — bit-identical results, used to cross-check the native
  * aggregate.
  */
final case class HampelDetector(
    windowSize: Int = 5,
    threshold: Double = 3.0,
    k: Double = TsOps.GaussianScaleFactor,
    impl: String = "native") extends Detector {

  if (windowSize <= 0) throw new InvalidArgumentError("window_size", "nonnegative")
  if (threshold < 0) throw new InvalidArgumentError("threshold", "positive")
  require(impl == "native" || impl == "builtin", s"unknown impl: $impl")

  override def contextRows: Int = windowSize // [t-ws, t+ws-1] frame + edge rule

  override protected def detectImpl(df: DataFrame, spec: SeriesSpec): DataFrame = {
    val ws = windowSize
    val v = TsOps.cleanValue(spec)
    val (rn, cnt) = TsOps.rowNumberAndCount(spec)
    val (rnC, cntC) = ("__hampel_rn", "__hampel_cnt")
    val (stats, med, rawmad) = if (impl == "native") {
      val statsC = "__hampel_stats"
      (statsC -> graft.functions.TailHampel(v, 2 * ws).over(TsOps.growingFrame(spec.w, ws - 1)),
        col(statsC).getField("med"), col(statsC).getField("rawmad"))
    } else {
      val arrC = "__hampel_arr"
      // collect_list skips nulls — matches np.nanmedian's NaN skipping
      val sorted = array_sort(collect_list(v).over(spec.w.rowsBetween(-ws.toLong, (ws - 1).toLong)))
      val m = TsOps.sortedArrayMedian(col(arrC))
      (arrC -> sorted, m,
        TsOps.sortedArrayMedian(array_sort(transform(col(arrC), x => abs(x - m)))))
    }
    val flag = (col(rnC) > ws && col(rnC) <= col(cntC) - ws &&
      coalesce(abs(v - med) > lit(threshold) * (lit(k) * rawmad), lit(false))).as(spec.flag)
    // two projections, each analyzed once: the window columns, then the
    // input's columns with the flag appended (or replaced in place, as
    // withColumn does)
    val staged = df.select(col("*") +: Seq(stats, rnC -> rn, cntC -> cnt)
      .map { case (name, c) => c.as(name) }: _*)
    val isFlag = (name: String) => SQLConf.get.resolver(name, spec.flag)
    val kept = staged.queryExecution.analyzed.output.take(df.columns.length)
      .map(a => if (isFlag(a.name)) flag else ColumnBridge.column(a))
    staged.select((if (df.columns.exists(isFlag)) kept else kept :+ flag): _*)
  }

  /** Reference display parity (`hampel.py:89-90` __str__). */
  override def toString: String =
    s"HampelDetector($windowSize, ${TsOps.pyFloat(threshold)})"

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("HampelDetector"),
    "window_size" -> Json.num(windowSize.toDouble),
    "threshold" -> Json.num(threshold),
    "k" -> Json.num(k),
    "impl" -> JStr(impl)))
}

object HampelDetector {
  def fromJson(j: JValue): HampelDetector =
    HampelDetector(j("window_size").num.toInt, j("threshold").num, j("k").num,
      j("impl").opt.map(_.str).getOrElse("native"))
}
