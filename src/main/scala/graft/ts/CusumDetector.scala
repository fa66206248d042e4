package graft.ts

import graft.util.Json
import graft.util.Json._

/** Two-sided CUSUM changepoint detector (Page 1954; engine extension, no
  * reference counterpart): per series it maintains the classic cumulative
  * sums
  *
  *   S⁺_t = max(0, S⁺_{t-1} + x_t − (target + slack))
  *   S⁻_t = max(0, S⁻_{t-1} − x_t + (target − slack))
  *
  * and flags a sample when either sum exceeds `threshold` — a sustained
  * drift above/below `target` accumulates until it trips, which catches
  * level shifts far smaller than any single-point rule can (the
  * complement of RangeDetector's static bounds and EWMA's forecast
  * deviation).
  *
  * Like [[EwmaDetector]] the recursion is not a window frame, so it runs
  * as a [[RecurrenceKernel]] scanned once per series ([[Recurrence]]),
  * with the sums starting at 0 for each series. Nulls pass through
  * unflagged without touching the sums. Arithmetic is ordered exactly
  * as the DuckDB oracle's `list_reduce` — `(acc + x) − hi` /
  * `(acc − x) + lo` — so flags are hash-reproducible.
  *
  * [[detectChunked]], the segmented scan for giant series: the recursion
  * `s ← max(0, s + δ)` is MAX-PLUS affine in s. Running a whole chunk
  * with per-sample deviations δ₁..δₙ from entry state s gives
  * `s_out = max(s + T, M)` with `T = Σδ` and
  * `M = max(0, max nonempty suffix sum of δ)` — a transfer that composes
  * associatively, exactly like the EWMA chunk's `A·s + B`, kept for both
  * sides. `s + T` reassociates the float additions the sequential scan
  * interleaved with max-floors, so entry states can drift by ulps.
  * EXCEPTION — exact on a dyadic grid: when every value and hi/lo
  * constant is a multiple of 2^-g and all running magnitudes stay below
  * 2^(53-g), every add/subtract/max here is exact IEEE arithmetic, so the
  * transfer composition is associative and chunked == sequential
  * BITWISE. The driver query `det_cusum_chunked` runs on
  * floor(value·64)/64 (g = 6) to get that guarantee; at n samples of
  * magnitude ~2^m per series the bound holds while n < 2^(47-m).
  */
final case class CusumDetector(
    target: Double = 0.0,
    slack: Double = 0.0,
    threshold: Double = Double.PositiveInfinity) extends RecursiveDetector {

  require(slack >= 0.0, "slack must be non-negative")
  require(threshold > 0.0, "threshold must be positive")

  def kernel(): RecurrenceKernel = new CusumKernel(target, slack, threshold)

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("CusumDetector"),
    "target" -> Json.num(target),
    "slack" -> Json.num(slack),
    "threshold" -> Json.num(threshold)))
}

object CusumDetector {
  def fromJson(j: JValue): CusumDetector =
    CusumDetector(j("target").num, j("slack").num, j("threshold").num)
}

/** CUSUM arithmetic: state `(S⁺, S⁻)`, seeded at (0, 0) from the start;
  * transfer `(T⁺, M⁺, T⁻, M⁻)` of `s ↦ max(s + T, M)` per side.
  */
final class CusumKernel(target: Double, slack: Double, thr: Double)
    extends RecurrenceKernel {
  private val hi = target + slack
  private val lo = target - slack
  private var sHi = 0.0
  private var sLo = 0.0

  def reset(): Unit = { sHi = 0.0; sLo = 0.0 }

  def step(x: Double): Boolean = {
    sHi = math.max(0.0, sHi + x - hi)
    sLo = math.max(0.0, sLo - x + lo)
    sHi > thr || sLo > thr
  }

  def seeded: Boolean = true
  def save(): Array[Double] = Array(sHi, sLo)
  def load(s: Array[Double]): Unit = { sHi = s(0); sLo = s(1) }

  def identity: Array[Double] = Array(0.0, 0.0, 0.0, 0.0)

  // T/M update per sample as T += δ; M = max(M + δ, 0) (M tracks the
  // best "restart inside the chunk" state)
  def absorb(t: Array[Double], x: Double): Unit = {
    t(0) += x - hi; t(1) = math.max(t(1) + (x - hi), 0.0)
    t(2) += lo - x; t(3) = math.max(t(3) + (lo - x), 0.0)
  }

  def transfer(t: Array[Double]): Unit = {
    sHi = math.max(sHi + t(0), t(1))
    sLo = math.max(sLo + t(2), t(3))
  }
}
