package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamingDetectors.micros

/** Streaming ordered-funnel tracking — the continuous twin of the batch
  * `q33_funnel` query: per user, each funnel stage counts only once the
  * PREVIOUS stage has been reached at a strictly earlier timestamp, and
  * an advance row is emitted the moment the stage is first reached.
  * State per user is one integer + one timestamp (the deepest stage
  * reached and when) — O(users), independent of stream length.
  *
  * Events are sorted by time within each micro-batch (the shared
  * cross-batch ordering contract of this module); ties at the same
  * timestamp do NOT advance two stages (strict `>`), exactly like the
  * batch query's `ts > t1` windows.
  */
object StreamingFunnel {

  case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)
  case class FunnelAdvance(user_id: Long, stage: String, ts: Timestamp)
  case class FunnelState(stageIdx: Int, reachedMicros: Long)

  def funnelStream(events: Dataset[FunnelEvent], stages: Seq[String])
      : Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    require(stages.nonEmpty, "funnelStream: empty stage list")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, batch: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val evs = batch.toVector.sortBy(e => micros(e.ts))
          var st = state.getOption.getOrElse(FunnelState(-1, Long.MinValue))
          val out = Vector.newBuilder[FunnelAdvance]
          evs.foreach { e =>
            val next = st.stageIdx + 1
            if (next < stages.length && e.event_type == stages(next) &&
                (st.stageIdx < 0 || micros(e.ts) > st.reachedMicros)) {
              st = FunnelState(next, micros(e.ts))
              out += FunnelAdvance(user, stages(next), e.ts)
            }
          }
          // completed funnels KEEP their terminal state — dropping it
          // would let a later stage-0 event restart the funnel and
          // re-emit advances the batch query never produces
          if (st.stageIdx >= 0) state.update(st)
          out.result().iterator
      }
  }
}
