package graft.ts

import graft.util.Json
import graft.util.Json._

/** Forecast-deviation detector (engine extension, no reference
  * counterpart): maintains a recursive exponentially-weighted moving
  * average per series (`ewma_t = α·x_t + (1-α)·ewma_{t-1}`, pandas
  * `ewm(adjust=False)` recursion) and flags
  * `|x_t − ewma_{t-1}| > threshold` — a sample is anomalous when it
  * deviates from the smoothed forecast of its own history.
  *
  * The recursion is not expressible as a Spark window frame, so, like
  * [[HoltDetector]] and [[CusumDetector]], it runs as a
  * [[RecurrenceKernel]] scanned once per series ([[Recurrence]]). Nulls
  * pass through unflagged without updating the state; the first sample
  * seeds the average and is never flagged.
  *
  * SCALE WARNING: with an empty `spec.seriesId` the whole frame is one
  * logical series, so `detect`'s scan necessarily runs in ONE partition
  * (`repartition(1)`) — an exactly-sequential recursion cannot
  * parallelize. For modest single-sensor frames that's fine; for a
  * giant series (or a hot sensor dominating a fleet) use
  * [[detectChunked]], the distributed segmented-scan formulation: the
  * recursion `s ← α·x + (1−α)·s` is AFFINE in s, so a whole chunk
  * composes to `s_out = A·s_in + B` with `A = (1−α)^(#non-null)` and B
  * a chunk-local scan value. Composing `A·s + B` reassociates the float
  * arithmetic, so entry states can drift by ulps and masks differ from
  * [[detect]]'s as [[Recurrence.detectChunked]] describes (at α = 1
  * every transfer is exact). Use [[detect]] when exact oracle parity
  * matters; use [[detectChunked]] when one series holds billions of rows.
  */
final case class EwmaDetector(
    alpha: Double = 0.3,
    threshold: Double = Double.PositiveInfinity) extends RecursiveDetector {

  require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")

  def kernel(): RecurrenceKernel = new EwmaKernel(alpha, threshold)

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("EwmaDetector"),
    "alpha" -> Json.num(alpha),
    "threshold" -> Json.num(threshold)))
}

object EwmaDetector {
  def fromJson(j: JValue): EwmaDetector =
    EwmaDetector(j("alpha").num, j("threshold").num)
}

/** EWMA arithmetic: state `ewma`; transfer `(A, B)` of `s ↦ A·s + B`. */
final class EwmaKernel(a: Double, thr: Double) extends RecurrenceKernel {
  private var ewma = 0.0
  private var seen = false

  def reset(): Unit = { ewma = 0.0; seen = false }

  def step(x: Double): Boolean = {
    val anomaly = seen && math.abs(x - ewma) > thr
    ewma = if (!seen) x else a * x + (1 - a) * ewma
    seen = true
    anomaly
  }

  def seeded: Boolean = seen
  def save(): Array[Double] = Array(ewma)
  def load(s: Array[Double]): Unit = { ewma = s(0); seen = true }

  def identity: Array[Double] = Array(1.0, 0.0)

  def absorb(t: Array[Double], x: Double): Unit = {
    t(0) *= (1 - a)
    t(1) = a * x + (1 - a) * t(1)
  }

  def transfer(t: Array[Double]): Unit = ewma = t(0) * ewma + t(1)
}
