package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.{TailHampel, TailRing, TailStd}
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
  *  - Rolling-std, Hampel and constant-value/-gradient are
  *    [[WindowKernel]]s of one bounded-lookahead stream ([[windowStream]])
  *    over the batch kernels' [[graft.functions.TailRing]]: a row is
  *    flagged once enough rows follow it, or at an end-of-series marker,
  *    which hands the series' length to the batch edge rules.
  *  - EWMA, Holt and CUSUM run the batch detectors' own
  *    [[graft.ts.RecurrenceKernel]]s ([[recurrenceStream]]).
  *
  * NaN is read as null, as the batch `TsOps.cleanValue` does, and flags
  * compare as Spark SQL does (`compareDoubles`: NaN above every value).
  * Contract: rows are processed in event-time order WITHIN each
  * micro-batch (sorted here) and batches must arrive in order per series
  * (no late data) — the state cannot repair reordering. Fitting stays a
  * batch concern: fit offline, pass the fitted detector (a literal
  * threshold) into the stream.
  */
object StreamingDetectors {

  final case class Point(series_id: String, ts: Timestamp, value: java.lang.Double)
  final case class FlaggedPoint(
      series_id: String, ts: Timestamp, value: java.lang.Double, is_anomaly: Boolean)
  final case class LastPoint(tsMicros: Long, value: java.lang.Double)

  /** Input for the bounded-lookahead detectors: a normal sample, or an
    * end-of-series marker (`eos = true`, value ignored) that flushes the
    * pending tail rows under the batch edge rules; a sample after it
    * starts a new series.
    */
  final case class StreamEvent(
      series_id: String, ts: Timestamp, value: java.lang.Double, eos: Boolean)

  /** A windowed stream's per-series state: its kernel's ring
    * ([[TailRing.toBytes]]), the rows not yet emitted as event-time micros
    * and values (NaN for null), and the number of rows emitted.
    */
  final case class WindowState(
      ring: Array[Byte], micros: Array[Long], values: Array[Double], emitted: Long)

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

  /** Rolling-stddev detector on a stream: the batch
    * [[graft.ts.RollingStdDevDetector]]'s [[graft.functions.TailStd]] of
    * the `windowSize` rows ending ⌊(w-1)/2⌋ rows past t (centered) or at
    * t, and its edge rules.
    */
  def rollingStdStream(events: Dataset[StreamEvent], windowSize: Int,
      maxStd: Double, center: Boolean = true): Dataset[FlaggedPoint] = {
    val lookahead = if (center) (windowSize - 1) / 2 else 0
    // for a one-row window, as the batch column reads it when built
    val nullOnDivideByZero = !SQLConf.get.legacyStatisticalAggregate
    windowStream(events, new WindowKernel(windowSize, keepSorted = false, lookahead, lookahead) {
      def flag(ring: TailRing, t: Long, total: Long): Boolean =
        t != 1 && t <= total - ahead && {
          val std = TailStd.guarded(ring, nullOnDivideByZero)
          std != null && compareDoubles(std, maxStd) > 0
        }
    })
  }

  /** Hampel detector on a stream: the batch [[graft.ts.HampelDetector]]'s
    * [[graft.functions.TailHampel]] median and MAD of rows `[t-ws,
    * t+ws-1]`. Its tail rule (`rn ≤ cnt - ws`) needs to know whether ws
    * rows FOLLOW t, so a row waits for ws rows although its frame ends
    * ws-1 past it.
    */
  def hampelStream(events: Dataset[StreamEvent], windowSize: Int,
      threshold: Double,
      k: Double = graft.ts.TsOps.GaussianScaleFactor): Dataset[FlaggedPoint] = {
    val ws = windowSize
    windowStream(events, new WindowKernel(2 * ws, keepSorted = true, ws - 1, ws) {
      def flag(ring: TailRing, t: Long, total: Long): Boolean =
        t > ws && t <= total - ws && {
          val x = rowField(ring, t + ahead, t, 1, 0)
          !x.isNaN && {
            val med = TailHampel.median(ring)
            compareDoubles(math.abs(x - med), threshold * (k * TailHampel.rawMad(ring, med))) > 0
          }
        }
    })
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
    * [[graft.ts.ConstantValueDetector]]: [[constantMask]] of the values.
    * The dilation reads the frames of t-1, t and t+1, the w + 2 rows
    * ending ⌊(w-1)/2⌋ + 1 past t; for w ≤ 2 a row also waits for the
    * row after that, which shows t+1 is not the last.
    */
  def constantValueStream(events: Dataset[StreamEvent], windowSize: Int = 3,
      threshold: Double = 1e-7): Dataset[FlaggedPoint] = {
    val w = windowSize
    windowStream(events, new WindowKernel(w + 2, keepSorted = false,
        (w - 1) / 2 + 1, math.max((w - 1) / 2, 1) + 1) {
      def flag(ring: TailRing, t: Long, total: Long): Boolean = {
        val last = math.min(t + ahead, total)
        constantMask(t, total, w, threshold)(r => rowField(ring, last, r, 1, 0))
      }
    })
  }

  /** Linear-interpolation (constant-gradient) detection on a stream —
    * the batch [[graft.ts.ConstantGradientDetector]]: [[constantMask]] of
    * the forward per-second gradient OR of the backward difference over
    * the forward Δt (the reference's `base.py:89` idiosyncrasy). The ring
    * holds (value, Δt) pairs of the w + 4 rows ending ⌊(w-1)/2⌋ + 2 past
    * t, as a gradient reads the rows either side of it.
    */
  def constantGradientStream(events: Dataset[StreamEvent], windowSize: Int = 3)
      : Dataset[FlaggedPoint] = {
    val w = windowSize
    val threshold = 1e-7
    val lookahead = (w - 1) / 2 + 2
    windowStream(events, new WindowKernel(2 * (w + 4), keepSorted = false, lookahead, lookahead) {
      override def push(ring: TailRing, micros: Array[Long], values: Array[Double],
          i: Int, first: Boolean): Unit = {
        ring.push(values(i), values(i).isNaN)
        // batch Δt is null at the series' head; a zero Δt (a duplicate
        // ts) gives a null gradient, as Divide does outside ANSI mode
        val dt = if (first) 0.0 else (micros(i) - micros(i - 1)) / 1e6
        ring.push(dt, dt == 0.0)
      }
      def flag(ring: TailRing, t: Long, total: Long): Boolean = {
        val last = math.min(t + ahead, total)
        def grad(r: Long, other: Long): Double =
          (rowField(ring, last, r, 2, 0) - rowField(ring, last, other, 2, 0)) /
            rowField(ring, last, r, 2, 1)
        constantMask(t, total, w, threshold)(r => grad(r, r - 1)) ||
          constantMask(t, total, w, threshold)(r => grad(r, r + 1))
      }
    })
  }

  /** A windowed detector on a stream. Row t's frame is the last
    * `ringLength` ring rows up to `ahead` rows past t, as the batch
    * detector's growing frame reads them; t is flagged once `gate ≥ ahead`
    * rows follow it, or at end-of-series.
    */
  private[streaming] abstract class WindowKernel(val ringLength: Int,
      val keepSorted: Boolean, val ahead: Int, val gate: Int) extends Serializable {

    /** Pushes pending row i; row i - 1 precedes it unless it is the
      * series' `first`. A kernel whose push reads row i - 1 needs
      * `ahead ≥ 1`, which keeps that row pending. */
    def push(ring: TailRing, micros: Array[Long], values: Array[Double],
        i: Int, first: Boolean): Unit =
      ring.push(values(i), values(i).isNaN)

    /** Row t's flag (1-based). The ring ends at row `min(t + ahead,
      * total)`; `total` is the series' row count at end-of-series and
      * `Long.MaxValue` before, so the batch edge rules read it as is. */
    def flag(ring: TailRing, t: Long, total: Long): Boolean
  }

  /** Field `field` of series row r, in a ring of `stride`-wide rows whose
    * newest is row `last`; NaN where that row is absent or the field null. */
  private def rowField(ring: TailRing, last: Long, r: Long, stride: Int, field: Int): Double = {
    val i = ring.size - stride * (last - r + 1) + field
    if (r > last || i < 0 || ring.isNullAt(i.toInt)) Double.NaN else ring.valueAt(i.toInt)
  }

  /** The batch `TsOps.constantMask` at row t over a sequence g (NaN for
    * null): base(j) holds iff j is neither the first nor the last row and
    * g is non-null over j's centered w-row frame, with max-min spread
    * under the threshold; t is flagged iff base(t-1), base(t) or
    * base(t+1) holds (the one-step dilation).
    */
  private def constantMask(t: Long, total: Long, w: Int, threshold: Double)(
      g: Long => Double): Boolean = {
    def base(j: Long): Boolean = j > 1 && j < total && {
      val end = j + (w - 1) / 2
      var lo = Double.PositiveInfinity
      var hi = Double.NegativeInfinity
      var r = j - w / 2
      var x = 0.0
      while (r <= end && { x = g(r); !x.isNaN }) {
        lo = math.min(lo, x); hi = math.max(hi, x); r += 1
      }
      r > end && compareDoubles(math.abs(hi - lo), threshold) < 0
    }
    base(t - 1) || base(t) || base(t + 1)
  }

  /** Runs a [[WindowKernel]] per series. The ring holds the rows up to
    * `min(emitted + ahead, received)`, so emitting row t first pushes row
    * t + ahead, where it exists.
    */
  private def windowStream(events: Dataset[StreamEvent], kernel: WindowKernel)
      : Dataset[FlaggedPoint] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.series_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, batch: Iterator[StreamEvent], state: GroupState[WindowState]) =>
          val evs = batch.toVector.sortBy(e => (micros(e.ts), !e.eos))
          def newRing = new TailRing(kernel.ringLength, kernel.keepSorted)
          val st = state.getOption.getOrElse(
            WindowState(newRing.toBytes, Array.emptyLongArray, Array.emptyDoubleArray, 0L))
          var ring = TailRing.fromBytes(kernel.ringLength, kernel.keepSorted, st.ring)
          // the pending rows are ms/vs(head until len)
          val ms = java.util.Arrays.copyOf(st.micros, st.micros.length + evs.length)
          val vs = java.util.Arrays.copyOf(st.values, ms.length)
          var head = 0
          var len = st.micros.length
          var emitted = st.emitted
          val out = Vector.newBuilder[FlaggedPoint]

          def push(i: Int): Unit =
            kernel.push(ring, ms, vs, i, first = emitted + i - head == 0)
          def emit(total: Long): Unit = {
            if (head + kernel.ahead < len) push(head + kernel.ahead)
            emitted += 1
            out += FlaggedPoint(key, timestamp(ms(head)),
              if (vs(head).isNaN) null else vs(head), kernel.flag(ring, emitted, total))
            head += 1
          }

          evs.foreach { e =>
            if (e.eos) {
              val total = emitted + len - head
              while (head < len) emit(total)
              ring = newRing
              emitted = 0
            } else {
              ms(len) = micros(e.ts)
              vs(len) = if (e.value == null) Double.NaN else e.value.doubleValue
              len += 1
              if (len - head <= kernel.ahead) push(len - 1)
              while (len - head > kernel.gate) emit(Long.MaxValue)
            }
          }
          if (emitted == 0 && head == len) state.remove()
          else state.update(WindowState(ring.toBytes,
            java.util.Arrays.copyOfRange(ms, head, len),
            java.util.Arrays.copyOfRange(vs, head, len), emitted))
          out.result().iterator
      }
  }

  /** Event-time microseconds of a timestamp. */
  private[streaming] def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000) % 1000

  /** The timestamp at event-time microseconds `m`. */
  private[streaming] def timestamp(m: Long): Timestamp = Timestamp.from(
    Instant.ofEpochSecond(Math.floorDiv(m, 1000000L), Math.floorMod(m, 1000000L) * 1000L))

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

  private[streaming] def flagged(direction: String, threshold: Double)(
      delta: Option[Double]): Boolean = delta match {
    case None => false
    case Some(d) => direction match {
      case "positive" => d > threshold
      case "negative" => d < -threshold
      case _ => math.abs(d) > threshold
    }
  }
}
