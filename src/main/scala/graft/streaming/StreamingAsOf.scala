package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamingDetectors.micros

/** Streaming counterpart of [[graft.relational.AsOf]]: enrich a stream
  * of left events with the latest right-stream row at-or-before each
  * event's timestamp, per key — "state as of this event" while both
  * sides are still flowing.
  *
  * Both sides arrive UNIONED into one [[AsOfInput]] stream (set
  * `isRight`), because Structured Streaming's built-in stream-stream
  * join cannot express "latest ≤ ts, exactly one match"; a
  * `flatMapGroupsWithState` over the merged stream holds ONE right row
  * per key — O(keys) state, no watermark buffering of the whole right
  * history — which is what makes this shape survive unbounded streams.
  *
  * Same ordering contract as the other streaming operators
  * ([[StreamingDetectors]] scaladoc): rows are sorted by event time
  * within each micro-batch (done here), and batches must arrive in
  * order per key; a right row older than the retained state is ignored
  * (state only moves forward), a left row older than the state would
  * see FUTURE state — the divergence late data costs, exactly as
  * documented for the detectors. Backward direction only: "earliest
  * at-or-after" needs future rows, i.e. bounded lookahead, not
  * one-row state.
  *
  * Ties mirror the batch operator: a right row with the same (ts) as
  * the retained state replaces it only on a larger `rid`, and a left
  * row at the same ts as a right row in the same batch sees it
  * (right sorts first at equal ts) — inclusive `<=`, max-id tie-break,
  * identical to AsOf.join(direction = "backward").
  */
object StreamingAsOf {

  /** One merged input row: a left event (`isRight = false`, `rid`
    * ignored) or a right state update (`isRight = true`).
    */
  final case class AsOfInput(key: String, ts: Timestamp, isRight: Boolean,
      rid: java.lang.Long, value: java.lang.Double)

  final case class AsOfJoined(key: String, ts: Timestamp,
      matched_ts: Timestamp, matched_id: java.lang.Long,
      matched_value: java.lang.Double)

  // public: the state encoder's generated code constructs/reads it
  final case class RightState(ts: Timestamp, rid: Long, value: Double)

  /** `toleranceMicros`: as in the batch operator, a match farther than
    * this before the left event is no match (emitted with nulls).
    */
  def asOfStream(inputs: Dataset[AsOfInput],
      toleranceMicros: Option[Long] = None): Dataset[AsOfJoined] = {
    import inputs.sparkSession.implicits._
    inputs.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[AsOfInput], state: GroupState[RightState]) =>
          // rights before lefts at equal ts (inclusive <=; !isRight
          // sorts rights' false first), then by rid so the max-id right
          // wins before any later left reads it
          val rows = batch.toIndexedSeq.sortBy(r =>
            (micros(r.ts), !r.isRight, Option(r.rid).map(_.longValue).getOrElse(0L)))
          val out = Vector.newBuilder[AsOfJoined]
          var cur = state.getOption
          rows.foreach { r =>
            if (r.isRight) {
              val t = micros(r.ts)
              val id = Option(r.rid).map(_.longValue).getOrElse(0L)
              if (cur.forall(s =>
                  Ordering[(Long, Long)].gteq((t, id), (micros(s.ts), s.rid))))
                cur = Some(RightState(r.ts, id, r.value))
            } else {
              val t = micros(r.ts)
              val hit = cur.filter(s => micros(s.ts) <= t &&
                toleranceMicros.forall(tol => t - micros(s.ts) <= tol))
              out += (hit match {
                case Some(s) => AsOfJoined(key, r.ts, s.ts, s.rid, s.value)
                case None => AsOfJoined(key, r.ts, null, null, null)
              })
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }
}
