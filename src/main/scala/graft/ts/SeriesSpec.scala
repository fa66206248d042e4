package graft.ts

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.col

/** Column contract for a (possibly multi-)series time-series DataFrame.
  *
  * The reference (tsod, `/root/reference/tsod/base.py:31-63`) works on a
  * single `pd.Series` with a DatetimeIndex. Our engine generalizes to a
  * DataFrame holding millions of independent series: `seriesId` columns
  * partition the data (and the shuffle), `orderBy` columns replace the
  * index order (add a tiebreak column after `ts` when timestamps can
  * collide), `value` is the measured signal, and `flag` is the appended
  * boolean anomaly-mask column (True == anomaly, never null).
  */
final case class SeriesSpec(
    value: String = "value",
    orderBy: Seq[String] = Seq("ts"),
    seriesId: Seq[String] = Nil,
    flag: String = "is_anomaly") {

  /** Primary time column (first ordering column). */
  def ts: String = orderBy.head

  /** Ordered window: one pane per series, rows in time order. */
  def w: WindowSpec = {
    val p =
      if (seriesId.isEmpty) Window.partitionBy()
      else Window.partitionBy(seriesId.map(col): _*)
    p.orderBy(orderBy.map(col): _*)
  }

  def valueCol: Column = col(value)
}
