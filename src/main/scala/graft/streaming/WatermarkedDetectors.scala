package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import StreamingDetectors.{FlaggedPoint, Point, flagged, micros, timestamp}

/** Out-of-order-tolerant streaming detection (SURVEY.md §2.10's "late
  * data" caveat made concrete): per-series state buffers points and only
  * scores the prefix older than `allowedLatenessSeconds` behind the max
  * event time seen — points may arrive in any order within that horizon
  * and still produce exactly the in-order masks. Points older than the
  * already-scored frontier are DROPPED (the watermark contract; counted
  * nowhere, like Structured Streaming's own late-data drop).
  *
  * This is the general pattern for the whole detector family: the
  * `flag` callback sees (previous point, current point) like
  * diff/gradient; plugging a window buffer instead generalizes to the
  * centered detectors.
  */
object WatermarkedDetectors {

  final case class LatenessState(
      buffered: Seq[(Long, java.lang.Double)],
      lastScored: StreamingDetectors.LastPoint,
      frontierMicros: Long,
      maxSeenMicros: Long)

  def diffStreamWatermarked(points: Dataset[Point], maxDiff: Double,
      allowedLatenessSeconds: Long,
      direction: String = "both"): Dataset[FlaggedPoint] = {
    import points.sparkSession.implicits._
    val latenessMicros = allowedLatenessSeconds * 1000000L
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[Point], state: GroupState[LatenessState]) =>
          val st = state.getOption.getOrElse(
            LatenessState(Vector.empty, null, Long.MinValue, Long.MinValue))
          val incoming = batch.map(p => (micros(p.ts), p.value)).toVector
          val maxSeen = math.max(st.maxSeenMicros,
            if (incoming.isEmpty) Long.MinValue else incoming.map(_._1).max)
          // drop points at/behind the scored frontier (true late data),
          // merge the rest into the buffer in event-time order
          val buffered = (st.buffered ++ incoming.filter(_._1 > st.frontierMicros))
            .sortBy(_._1)
          // score everything older than the watermark horizon
          val horizon = maxSeen - latenessMicros
          val (ready, pending) = buffered.partition(_._1 <= horizon)
          var prev = st.lastScored
          val out = ready.map { case (tsm, v) =>
            val anomaly = prev != null && flagged(direction, maxDiff)(
              for (pv <- Option(prev.value); cv <- Option(v)) yield cv - pv)
            prev = StreamingDetectors.LastPoint(tsm, v)
            FlaggedPoint(key, timestamp(tsm), v, anomaly)
          }
          val frontier = if (ready.nonEmpty) ready.last._1 else st.frontierMicros
          state.update(LatenessState(pending, prev, frontier, maxSeen))
          out.iterator
      }
  }
}
