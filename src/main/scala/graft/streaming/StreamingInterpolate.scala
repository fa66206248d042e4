package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamingDetectors.{StreamEvent, micros}

/** Streaming counterpart of [[graft.ts.Interpolate]]: fill NULL
  * readings linearly in time between their non-null neighbors while
  * the series flows.
  *
  * A null can only be emitted once its NEXT non-null is known, so
  * null runs buffer in state until a value (or the series' `eos`
  * marker) arrives — output is therefore delayed by the gap length,
  * and state is bounded by the longest null run, not the stream
  * (with a `maxGapMicros` the wait is bounded too: a run whose
  * bracket already exceeds the gap could be flushed early; kept
  * simple here — flush happens on the closing value/eos).
  *
  * Semantics match the batch operator exactly (same fill formula,
  * leading/trailing nulls stay null, maxGap outages stay null) —
  * pinned by a batch-equivalence test. Same ordering contract as the
  * other streaming operators: in-order batches, rows sorted within
  * each batch here.
  */
object StreamingInterpolate {

  final case class InterpolatedPoint(series_id: String, ts: Timestamp,
      value: java.lang.Double, interpolated: Boolean)

  final case class InterpState(
      hasPrev: Boolean, prevTs: Long, prevVal: Double,
      pending: Seq[Timestamp])

  def interpolateStream(events: Dataset[StreamEvent],
      maxGapMicros: Option[Long] = None): Dataset[InterpolatedPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[StreamEvent], state: GroupState[InterpState]) =>
          val rows = batch.toIndexedSeq.sortBy(e => micros(e.ts))
          var st = state.getOption.getOrElse(InterpState(false, 0L, 0.0, Nil))
          val out = Vector.newBuilder[InterpolatedPoint]
          def flushPending(next: Option[(Long, Double)]): Unit = {
            st.pending.foreach { pts =>
              val t = micros(pts)
              val filled = for {
                (t1, v1) <- next
                if st.hasPrev && maxGapMicros.forall(g => t1 - st.prevTs <= g)
              } yield st.prevVal + (v1 - st.prevVal) *
                (t - st.prevTs).toDouble / (t1 - st.prevTs).toDouble
              out += InterpolatedPoint(key, pts,
                filled.map(Double.box).orNull, filled.isDefined)
            }
            st = st.copy(pending = Nil)
          }
          rows.foreach { e =>
            if (e.eos) {
              flushPending(None) // trailing nulls stay null
              st = InterpState(false, 0L, 0.0, Nil)
            } else if (e.value == null || e.value.isNaN) {
              if (!st.hasPrev) // leading null: unfillable, emit now
                out += InterpolatedPoint(key, e.ts, null, false)
              else st = st.copy(pending = st.pending :+ e.ts)
            } else {
              val t1 = micros(e.ts)
              flushPending(Some((t1, e.value.doubleValue)))
              out += InterpolatedPoint(key, e.ts, e.value, false)
              st = InterpState(hasPrev = true, t1, e.value.doubleValue, Nil)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }
}
