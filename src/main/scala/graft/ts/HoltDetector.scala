package graft.ts

import graft.util.Json
import graft.util.Json._

/** Double-exponential (Holt) forecast-deviation detector (engine
  * extension, no reference counterpart — the trend-aware sibling of
  * [[EwmaDetector]]): maintains level `s` and trend `b` per series
  *
  *   s_t = α·x_t + (1−α)·(s_{t−1} + b_{t−1})
  *   b_t = β·(s_t − s_{t−1}) + (1−β)·b_{t−1}
  *
  * and flags `|x_t − (s_{t−1} + b_{t−1})| > threshold` — deviation from
  * the one-step-ahead forecast. On a steadily trending series the plain
  * EWMA lags and flags every sample; Holt's trend term follows the ramp
  * and flags only genuine departures from it.
  *
  * It runs as a [[RecurrenceKernel]] like EWMA's, with two doubles of
  * state and the same single-series SCALE WARNING. The first non-null
  * sample seeds `s = x, b = 0` and is never flagged.
  *
  * [[detectChunked]], the segmented scan for giant series, uses the
  * 2×2-matrix generalization of EWMA's scalar transfer. Each non-null
  * step is AFFINE in the (level, trend) state:
  *
  *   [s'; b'] = M·[s; b] + x·u,   M = [[1−α, 1−α],
  *                                     [−αβ, β(1−α)+1−β]],  u = [α, αβ]
  *
  * so a whole chunk composes to `state_out = T·state_in + w` with T a
  * 2×2 product and w an accumulated vector. As for EWMA, the composition
  * reassociates the float arithmetic, so entry states can drift by ulps
  * (at α = 1, β = 0 every transfer is exact).
  */
final case class HoltDetector(
    alpha: Double = 0.3,
    beta: Double = 0.1,
    threshold: Double = Double.PositiveInfinity) extends RecursiveDetector {

  require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
  require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")

  def kernel(): RecurrenceKernel = new HoltKernel(alpha, beta, threshold)

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("HoltDetector"),
    "alpha" -> Json.num(alpha),
    "beta" -> Json.num(beta),
    "threshold" -> Json.num(threshold)))
}

object HoltDetector {
  def fromJson(j: JValue): HoltDetector =
    HoltDetector(j("alpha").num, j("beta").num, j("threshold").num)
}

/** Holt arithmetic: state `(s, b)`; transfer `(T11, T12, T21, T22, w1,
  * w2)` of `state ↦ T·state + w`.
  */
final class HoltKernel(a: Double, be: Double, thr: Double)
    extends RecurrenceKernel {
  // the per-step map constants
  private val m11 = 1 - a; private val m12 = 1 - a
  private val m21 = -a * be; private val m22 = be * (1 - a) + (1 - be)
  private val u1 = a; private val u2 = a * be
  private var s = 0.0
  private var b = 0.0
  private var seen = false

  def reset(): Unit = { s = 0.0; b = 0.0; seen = false }

  def step(x: Double): Boolean = {
    val anomaly = seen && math.abs(x - (s + b)) > thr
    if (!seen) { s = x; b = 0.0; seen = true }
    else {
      val s1 = a * x + (1 - a) * (s + b)
      b = be * (s1 - s) + (1 - be) * b
      s = s1
    }
    anomaly
  }

  def seeded: Boolean = seen
  def save(): Array[Double] = Array(s, b)
  def load(st: Array[Double]): Unit = { s = st(0); b = st(1); seen = true }

  def identity: Array[Double] = Array(1.0, 0.0, 0.0, 1.0, 0.0, 0.0)

  // T ← M·T, w ← M·w + x·u
  def absorb(t: Array[Double], x: Double): Unit = {
    val n11 = m11 * t(0) + m12 * t(2); val n12 = m11 * t(1) + m12 * t(3)
    val n21 = m21 * t(0) + m22 * t(2); val n22 = m21 * t(1) + m22 * t(3)
    t(0) = n11; t(1) = n12; t(2) = n21; t(3) = n22
    val v1 = m11 * t(4) + m12 * t(5) + x * u1
    val v2 = m21 * t(4) + m22 * t(5) + x * u2
    t(4) = v1; t(5) = v2
  }

  def transfer(t: Array[Double]): Unit = {
    val ns = t(0) * s + t(1) * b + t(4)
    val nb = t(2) * s + t(3) * b + t(5)
    s = ns; b = nb
  }
}
