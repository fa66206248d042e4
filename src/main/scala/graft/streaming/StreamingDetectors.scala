package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.ts.{CusumKernel, EwmaKernel, HoltKernel, RangeDetector, RecurrenceKernel, SeriesSpec}

/** Structured Streaming variants of the detectors whose semantics permit
  * online evaluation (SURVEY.md §2.10; the reference is batch-only but
  * names realtime detection as the goal, README.md:42):
  *
  *  - RangeDetector is stateless — the batch expression applies to a
  *    streaming DataFrame unchanged.
  *  - Diff/Gradient need exactly the previous sample: keyed
  *    `flatMapGroupsWithState` holds one (ts, value) per series — O(1)
  *    state per key, append-mode output.
  *  - Centered-window detectors (rolling-std, Hampel, constant-value/
  *    -gradient) need future rows: a buffer of context and pending rows in
  *    the same state pattern emits each row once its lookahead has
  *    arrived (or on an end-of-series marker).
  *  - EWMA, Holt and CUSUM run the batch detectors' own
  *    [[graft.ts.RecurrenceKernel]]s ([[recurrenceStream]]).
  *
  * Contract: rows are processed in event-time order WITHIN each
  * micro-batch (sorted here) and batches must arrive in order per series
  * (no late data) — one (ts,value) of state cannot repair reordering.
  * Fitting stays a batch concern: fit offline, pass the fitted detector
  * (a literal threshold) into the stream.
  */
object StreamingDetectors {

  final case class Point(series_id: String, ts: Timestamp, value: java.lang.Double)
  final case class FlaggedPoint(
      series_id: String, ts: Timestamp, value: java.lang.Double, is_anomaly: Boolean)
  final case class LastPoint(tsMicros: Long, value: java.lang.Double)

  /** Input for the bounded-lookahead detectors: a normal sample, or an
    * end-of-series marker (`eos = true`, value ignored) that flushes the
    * pending tail rows — flushed rows get `false` flags, exactly the
    * batch edge semantics (incomplete frames / tail masking).
    */
  final case class StreamEvent(
      series_id: String, ts: Timestamp, value: java.lang.Double, eos: Boolean)

  final case class WindowState(
      rows: Seq[(Long, Option[Double])], pendingFrom: Int, emitted: Long)

  /** Stateless: same Catalyst expression as the batch detector. */
  def rangeStream(stream: DataFrame, detector: RangeDetector,
      spec: SeriesSpec = SeriesSpec()): DataFrame =
    detector.detect(stream, spec)

  /** `|Δvalue| > maxDiff` against the previous sample of the series.
    * First sample of a series (or after a null) is never an anomaly —
    * matches the batch DiffDetector's null-diff semantics.
    */
  def diffStream(points: Dataset[Point], maxDiff: Double,
      direction: String = "both"): Dataset[FlaggedPoint] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Point], state: GroupState[LastPoint]) =>
          evalWithPrev(key, rows, state) { (prev, p) =>
            flagged(direction, maxDiff) {
              for (pv <- Option(prev.value); v <- Option(p.value))
                yield v - pv.doubleValue()
            }
          }
      }
  }

  /** Per-second gradient against the previous sample of the series. */
  def gradientStream(points: Dataset[Point], maxGradient: Double,
      direction: String = "both"): Dataset[FlaggedPoint] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Point], state: GroupState[LastPoint]) =>
          evalWithPrev(key, rows, state) { (prev, p) =>
            flagged(direction, maxGradient) {
              for (pv <- Option(prev.value); v <- Option(p.value))
                yield {
                  val dtSec = (micros(p.ts) - prev.tsMicros) / 1e6
                  (v - pv.doubleValue()) / dtSec
                }
            }
          }
      }
  }

  /** Centered rolling-stddev detector on a stream: emits row t once
    * `lookahead` future rows exist (or on eos), computing the same
    * guarded sample-stddev flag as the batch
    * [[graft.ts.RollingStdDevDetector]], with the batch kernel's
    * arithmetic ([[graft.functions.TailStd.stddevSamp]]), so the two agree
    * to the bit even where the stddev equals `maxStd` — verified
    * mask-identical in StreamingSpec.
    */
  def rollingStdStream(events: Dataset[StreamEvent], windowSize: Int,
      maxStd: Double, center: Boolean = true): Dataset[FlaggedPoint] = {
    val (back, ahead) =
      if (center) (windowSize / 2, (windowSize - 1) / 2)
      else (windowSize - 1, 0)
    slidingWindowStream(events, back, ahead, gate = ahead) {
      (win, centerIdx, rn, _) =>
        val vals = win.flatMap(_._2)
        rn != 1 && vals.length == windowSize &&
          graft.functions.TailStd.stddevSamp(vals.toArray, 0, windowSize) > maxStd
    }
  }

  /** Hampel detector on a stream. The batch tail rule (`rn ≤ cnt - ws`)
    * needs to know whether ws rows FOLLOW t, so emission gates on ws
    * future rows even though the frame only spans ws-1 ahead; eos
    * flushes the tail as false — again exactly the batch masks.
    */
  def hampelStream(events: Dataset[StreamEvent], windowSize: Int,
      threshold: Double,
      k: Double = graft.ts.TsOps.GaussianScaleFactor): Dataset[FlaggedPoint] = {
    val ws = windowSize
    slidingWindowStream(events, back = ws, ahead = ws - 1, gate = ws) {
      (win, centerIdx, rn, _) =>
        rn > ws && {
          val vals = win.flatMap(_._2) // frame [t-ws, t+ws-1] includes row t
          val x = win(centerIdx)._2
          x.isDefined && vals.nonEmpty && {
            val sorted = vals.sorted.toArray
            val med = graft.functions.HampelStats.medianOfSorted(sorted)
            val dev = sorted.map(v => math.abs(v - med)).sorted
            val mad = k * graft.functions.HampelStats.medianOfSorted(dev)
            math.abs(x.get - med) > threshold * mad
          }
        }
    }
  }

  /** EWMA, Holt and CUSUM on a stream: the batch detectors' kernels
    * ([[graft.ts.EwmaDetector]], [[graft.ts.HoltDetector]],
    * [[graft.ts.CusumDetector]]), hence their flags, with O(1) state per
    * series: one multiply-add or max against stored doubles per event,
    * no lookahead, no window buffer.
    */
  def ewmaStream(points: Dataset[Point], alpha: Double,
      threshold: Double): Dataset[FlaggedPoint] =
    recurrenceStream(points, () => new EwmaKernel(alpha, threshold))

  def holtStream(points: Dataset[Point], alpha: Double, beta: Double,
      threshold: Double): Dataset[FlaggedPoint] =
    recurrenceStream(points, () => new HoltKernel(alpha, beta, threshold))

  def cusumStream(points: Dataset[Point], target: Double, slack: Double,
      threshold: Double): Dataset[FlaggedPoint] =
    recurrenceStream(points, () => new CusumKernel(target, slack, threshold))

  /** A seeded kernel's saved state, carried between micro-batches. */
  final case class RecurrenceState(state: Array[Double])

  /** Any [[RecurrenceKernel]] on a stream. Each micro-batch is sorted
    * by event time per series; the kernel resumes from the series' saved
    * state, which is written once the kernel is seeded.
    */
  def recurrenceStream(points: Dataset[Point],
      kernel: () => RecurrenceKernel): Dataset[FlaggedPoint] = {
    import points.sparkSession.implicits._
    points.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Point], state: GroupState[RecurrenceState]) =>
          val k = kernel()
          state.getOption.foreach(st => k.load(st.state))
          val out = rows.toVector.sortBy(p => micros(p.ts)).map { p =>
            // NaN behaves as null, like the batch cleanValue
            val anomaly = p.value != null && !p.value.isNaN &&
              k.step(p.value.doubleValue())
            FlaggedPoint(key, p.ts, p.value, anomaly)
          }
          if (k.seeded) state.update(RecurrenceState(k.save()))
          out.iterator
      }
  }

  /** Flat-line (stuck-sensor) detection on a stream — the batch
    * [[graft.ts.ConstantValueDetector]] semantics (centered max-min
    * spread < threshold, complete NaN-free frames only, first/last row
    * forced false, then one-step dilation) with bounded lookahead. The
    * dilation needs the NEXT row's base flag, whose frame spans one row
    * past this row's own — hence lookahead `⌊(w-1)/2⌋ + 1`. Emission at
    * eos still evaluates (a dilated flag can land on the final rows),
    * with the now-known series length driving the last-row rule.
    */
  def constantValueStream(events: Dataset[StreamEvent], windowSize: Int = 3,
      threshold: Double = 1e-7): Dataset[FlaggedPoint] = {
    val w = windowSize
    // for w ≤ 2 the base frame never clips at the tail, so the last-row
    // rule needs one extra row of lookahead to know "next is not last"
    val ahead = math.max((w - 1) / 2, 1) + 1
    slidingWindowStream(cleanNaN(events), back = w / 2 + 1, ahead, gate = ahead,
      evalOnEos = true) { (win, centerIdx, rn, total) =>
      val vals = win.map(_._2)
      def base(j: Int): Boolean =
        constantBase(vals, j, rn + (j - centerIdx), total, w, threshold)
      base(centerIdx - 1) || base(centerIdx) || base(centerIdx + 1)
    }
  }

  /** Linear-interpolation (constant-gradient) detection on a stream —
    * the batch [[graft.ts.ConstantGradientDetector]]: the constant-mask
    * pipeline applied to BOTH the forward per-second gradient and the
    * backward difference over the forward Δt (the reference's
    * `base.py:89` idiosyncrasy), OR-combined. Gradients are derived
    * inside the window, so lookahead grows by one more row (the
    * backward gradient at the frame's tail needs its successor).
    */
  def constantGradientStream(events: Dataset[StreamEvent], windowSize: Int = 3)
      : Dataset[FlaggedPoint] = {
    val w = windowSize
    val threshold = 1e-7
    val ahead = math.max((w - 1) / 2, 1) + 2
    slidingWindowStream(cleanNaN(events), back = w / 2 + 2, ahead, gate = ahead,
      evalOnEos = true) { (win, centerIdx, rn, total) =>
      val n = win.length
      // win(0) with rn > 1 is a context row whose predecessor was
      // trimmed — its gradient is never inside an evaluated frame
      // (back = w/2 + 2 keeps one spare row of slack), so None is safe
      def grad(j: Int, backward: Boolean): Option[Double] =
        if (j < 1 || j >= n) None
        else {
          val dt = (win(j)._1 - win(j - 1)._1) / 1e6
          for {
            x <- win(j)._2
            y <- if (backward) { if (j + 1 < n) win(j + 1)._2 else None }
                 else win(j - 1)._2
            // batch Divide yields null on a zero divisor (duplicate ts)
            if dt != 0.0
          } yield (x - y) / dt
        }
      val gF = IndexedSeq.tabulate(n)(j => grad(j, backward = false))
      val gB = IndexedSeq.tabulate(n)(j => grad(j, backward = true))
      def base(vals: IndexedSeq[Option[Double]], j: Int): Boolean =
        constantBase(vals, j, rn + (j - centerIdx), total, w, threshold)
      def dilated(vals: IndexedSeq[Option[Double]]): Boolean =
        base(vals, centerIdx - 1) || base(vals, centerIdx) ||
          base(vals, centerIdx + 1)
      dilated(gF) || dilated(gB)
    }
  }

  /** The batch constant-mask base flag for window position j (series
    * position rnj): centered frame `[j-⌊w/2⌋, j+⌊(w-1)/2⌋]` must hold
    * exactly w rows (a frame clipped by a series edge can never flag),
    * all non-null, with max-min spread under the threshold; the first
    * and last rows of the series are forced false. `total` is known
    * only during an eos flush — during gated emission the successor's
    * presence already proves a row is not last.
    */
  private def constantBase(vals: IndexedSeq[Option[Double]], j: Int, rnj: Long,
      total: Option[Long], w: Int, threshold: Double): Boolean =
    j >= 0 && j < vals.length && rnj != 1 && !total.contains(rnj) && {
      val frame = (j - w / 2) to (j + (w - 1) / 2)
      frame.forall(i => i >= 0 && i < vals.length && vals(i).isDefined) && {
        val xs = frame.map(i => vals(i).get)
        math.abs(xs.max - xs.min) < threshold
      }
    }

  /** NaN behaves as null in every batch detector (TsOps.cleanValue);
    * mirror that before windowing.
    */
  private def cleanNaN(events: Dataset[StreamEvent]): Dataset[StreamEvent] = {
    import events.sparkSession.implicits._
    events.map(e =>
      if (e.value != null && e.value.isNaN) e.copy(value = null) else e)
  }

  /** Shared bounded-lookahead machinery: per-series state keeps `back`
    * context rows plus the pending suffix; a pending row emits once
    * `gate` rows exist after it (or on eos — flushed rows get `false`
    * flags unless `evalOnEos`, in which case the callback still runs
    * with the window clipped at the true series end). The flag callback
    * sees the window `[idx-back, idx+ahead]` (clipped at the head), the
    * row's index within it, its 1-based position rn, and — during an
    * eos flush only — the series' total row count (for batch semantics
    * that force the LAST row, like the constant detectors' edge rule).
    */
  private def slidingWindowStream(events: Dataset[StreamEvent],
      back: Int, ahead: Int, gate: Int, evalOnEos: Boolean = false)(
      flag: (IndexedSeq[(Long, Option[Double])], Int, Long, Option[Long]) => Boolean)
      : Dataset[FlaggedPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[StreamEvent], state: GroupState[WindowState]) =>
          val evs = batch.toVector.sortBy(e => (micros(e.ts), !e.eos))
          val st = state.getOption.getOrElse(WindowState(Vector.empty, 0, 0L))
          var rows = st.rows.toVector
          var pendingFrom = st.pendingFrom
          var emitted = st.emitted
          val out = Vector.newBuilder[FlaggedPoint]
          var flushed = false

          def emitUpTo(isEos: Boolean): Unit = {
            // invariant under emission: emitted and pendingFrom advance
            // together, so the series total is loop-constant
            val total =
              if (isEos) Some(emitted + rows.length - pendingFrom) else None
            while (pendingFrom < rows.length &&
              (isEos || rows.length - 1 - pendingFrom >= gate)) {
              val idx = pendingFrom
              val lo = math.max(0, idx - back)
              val win = rows.slice(lo, math.min(rows.length, idx + ahead + 1))
              val rn = emitted + 1
              val isAnomaly =
                if (isEos && !evalOnEos) false
                else flag(win, idx - lo, rn, total)
              val (tsm, v) = rows(idx)
              out += FlaggedPoint(key, new Timestamp(tsm / 1000L),
                v.map(Double.box).orNull, isAnomaly)
              emitted += 1
              pendingFrom += 1
            }
            // trim context no longer needed
            val keepFrom = math.max(0, pendingFrom - back)
            if (keepFrom > 0) {
              rows = rows.drop(keepFrom)
              pendingFrom -= keepFrom
            }
          }

          evs.foreach { e =>
            if (e.eos) { emitUpTo(isEos = true); flushed = true }
            else {
              rows = rows :+ (micros(e.ts) -> Option(e.value).map(_.doubleValue()))
              emitUpTo(isEos = false)
            }
          }
          if (flushed && pendingFrom >= rows.length) state.remove()
          else state.update(WindowState(rows, pendingFrom, emitted))
          out.result().iterator
      }
  }

  private def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  // ---- streaming sessionization ---------------------------------------

  final case class SessionEvent(series_id: String, ts: Timestamp, eos: Boolean)
  final case class Session(
      series_id: String, session_no: Long, n_events: Long, duration_sec: Double)
  final case class SessionState(
      startMicros: Long, lastMicros: Long, n: Long, emitted: Long)

  /** Gap-based sessionization on a stream (the streaming twin of the
    * batch `q21_sessionize` query): a session closes when the gap to the
    * next event exceeds `gapSeconds` (emitting it downstream) or when an
    * eos marker flushes the open session. Events must arrive in order
    * per series across batches (sorted within each batch here).
    */
  def sessionizeStream(events: Dataset[SessionEvent], gapSeconds: Long)
      : Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    events.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val evs = batch.toVector.sortBy(e => (micros(e.ts), e.eos))
          var st = state.getOption.orNull
          val out = Vector.newBuilder[Session]
          def close(): Unit = if (st != null) {
            out += Session(key, st.emitted, st.n,
              (st.lastMicros - st.startMicros) / 1e6)
            st = SessionState(0, 0, 0, st.emitted + 1)
          }
          evs.foreach { e =>
            if (e.eos) { close(); st = null }
            else {
              val m = micros(e.ts)
              if (st == null || st.n == 0)
                st = SessionState(m, m,  1,
                  if (st == null) 0L else st.emitted)
              else if (m - st.lastMicros > gapMicros) {
                close()
                st = st.copy(startMicros = m, lastMicros = m, n = 1)
              } else st = st.copy(lastMicros = m, n = st.n + 1)
            }
          }
          if (st == null) state.remove() else state.update(st)
          out.result().iterator
      }
  }

  /** Shared state walk: sort the micro-batch by event time, thread the
    * last (ts, value) through, persist the newest as the series state.
    */
  private def evalWithPrev(key: String, rows: Iterator[Point],
      state: GroupState[LastPoint])(
      flag: (LastPoint, Point) => Boolean): Iterator[FlaggedPoint] = {
    val sorted = rows.toVector.sortBy(p => micros(p.ts))
    var prev = state.getOption.orNull
    val out = sorted.map { p =>
      val anomaly = prev != null && flag(prev, p)
      prev = LastPoint(micros(p.ts), p.value)
      FlaggedPoint(key, p.ts, p.value, anomaly)
    }
    if (prev != null) state.update(prev)
    out.iterator
  }

  private def flagged(direction: String, threshold: Double)(
      delta: Option[Double]): Boolean = delta match {
    case None => false
    case Some(d) => direction match {
      case "positive" => d > threshold
      case "negative" => d < -threshold
      case _ => math.abs(d) > threshold
    }
  }
}
