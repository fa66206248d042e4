package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The last `capacity` rows pushed, nulls included, in push order — the
  * state of the "tail of the frame" aggregates [[TailHampel]] and
  * [[TailStd]]. Rows live contiguously in `values(start until end)` of a
  * `2·capacity` array, compacted to the front when its end is reached
  * (amortized O(1) per push); with `keepSorted` a sorted copy of the
  * non-null values is kept by binary-search insert and delete, in
  * `java.util.Arrays.sort` order (-0.0 before 0.0, NaN last), so order
  * statistics read directly.
  */
final class TailRing(val capacity: Int, keepSorted: Boolean) {
  require(capacity >= 1, s"tail length must be >= 1: $capacity")

  private[functions] val values = new Array[Double](2 * capacity)
  private val isNull = new Array[Boolean](2 * capacity)
  private[functions] var start = 0
  private var end = 0
  private var nulls = 0
  private[functions] val sorted: Array[Double] =
    if (keepSorted) new Array[Double](capacity) else null
  private[functions] var sortedSize = 0

  def size: Int = end - start

  /** True when the ring holds `capacity` rows and none is null. */
  def full: Boolean = size == capacity && nulls == 0

  /** The i-th retained row, oldest first (`0 <= i < size`). */
  def valueAt(i: Int): Double = values(start + i)
  def isNullAt(i: Int): Boolean = isNull(start + i)

  def push(v: Double, vIsNull: Boolean): Unit = {
    if (size == capacity) {
      if (isNull(start)) nulls -= 1 else if (keepSorted) removeSorted(values(start))
      start += 1
    }
    if (end == values.length) {
      // start >= capacity > size here, so the ranges do not overlap
      System.arraycopy(values, start, values, 0, size)
      System.arraycopy(isNull, start, isNull, 0, size)
      end = size; start = 0
    }
    values(end) = v; isNull(end) = vIsNull; end += 1
    if (vIsNull) nulls += 1 else if (keepSorted) insertSorted(v)
  }

  /** Replays `other`'s retained rows in order: afterwards this ring holds
    * the last `capacity` rows of (this rows ++ other rows). */
  def pushAll(other: TailRing): Unit = {
    var i = other.start
    while (i < other.end) { push(other.values(i), other.isNull(i)); i += 1 }
  }

  private def insertSorted(v: Double): Unit = {
    val found = java.util.Arrays.binarySearch(sorted, 0, sortedSize, v)
    val i = if (found >= 0) found else -found - 1
    System.arraycopy(sorted, i, sorted, i + 1, sortedSize - i)
    sorted(i) = v; sortedSize += 1
  }

  private def removeSorted(v: Double): Unit = {
    // binarySearch orders as Arrays.sort does, so `v` is found
    val i = java.util.Arrays.binarySearch(sorted, 0, sortedSize, v)
    System.arraycopy(sorted, i + 1, sorted, i, sortedSize - i - 1)
    sortedSize -= 1
  }

  /** Retained rows in order: count, then per row a null byte and, for a
    * non-null row, its value. */
  def toBytes: Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + 9 * size)
    val out = new DataOutputStream(bos)
    out.writeInt(size)
    var i = start
    while (i < end) {
      out.writeBoolean(isNull(i))
      if (!isNull(i)) out.writeDouble(values(i))
      i += 1
    }
    out.flush(); bos.toByteArray
  }
}

object TailRing {
  def fromBytes(capacity: Int, keepSorted: Boolean, bytes: Array[Byte]): TailRing = {
    val ring = new TailRing(capacity, keepSorted)
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    var i = 0
    while (i < n) {
      if (bb.get() != 0) ring.push(0.0, vIsNull = true)
      else ring.push(bb.getDouble, vIsNull = false)
      i += 1
    }
    ring
  }
}

/** An aggregate over the last `n` rows of its frame, in frame order. Over
  * a growing frame (`ROWS BETWEEN UNBOUNDED PRECEDING AND k FOLLOWING`)
  * Spark calls `update` once per row, so a per-row statistic of a
  * bounded window costs one ring push instead of the sliding frame's
  * full re-aggregation on every row. Like `collect_list`, it is defined
  * on any frame: `merge` replays the right buffer's rows after the left
  * one's.
  */
trait TailAggregate extends TypedImperativeAggregate[TailRing] {
  def child: Expression
  def n: Int
  protected def keepSorted: Boolean

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true

  override def createAggregationBuffer(): TailRing = new TailRing(n, keepSorted)

  override def update(buf: TailRing, input: InternalRow): TailRing = {
    val v = child.eval(input)
    if (v == null) buf.push(0.0, vIsNull = true)
    else buf.push(v.asInstanceOf[Double], vIsNull = false)
    buf
  }

  override def merge(b1: TailRing, b2: TailRing): TailRing = { b1.pushAll(b2); b1 }

  override def serialize(buf: TailRing): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): TailRing =
    TailRing.fromBytes(n, keepSorted, bytes)
}

/** [[HampelStats]]' `struct(med, rawmad)` of the last `n` rows of the
  * frame (nulls skipped), bit for bit. The median is read from the
  * ring's sorted copy. For a finite median the deviations `|a_i - med|`
  * form two non-decreasing runs, one walking down from the median and
  * one walking up, so the MAD is their merge up to rank `m/2` with no
  * sort. An infinite or NaN median breaks that monotonicity (`∞ - ∞` is
  * NaN); those windows sort the deviations as [[HampelStats]] does.
  */
case class TailHampel(
    child: Expression,
    n: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TailAggregate {

  override protected def keepSorted: Boolean = true
  override def dataType: DataType = HampelStats.OutType

  override def eval(buf: TailRing): Any =
    if (buf.sortedSize == 0) null
    else {
      val med = TailHampel.median(buf)
      new GenericInternalRow(Array[Any](med, TailHampel.rawMad(buf, med)))
    }

  override def withNewMutableAggBufferOffset(newOffset: Int): TailHampel =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TailHampel =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TailHampel {
  /** Median of the ring's non-null rows, read from its sorted copy; the
    * ring keeps one and holds a non-null row. */
  def median(ring: TailRing): Double =
    HampelStats.medianOfSorted(ring.sorted, ring.sortedSize)

  /** Median of `|a_i - med|` over the ring's non-null rows `a_i`. */
  def rawMad(ring: TailRing, med: Double): Double = {
    val m = ring.sortedSize
    val a = ring.sorted
    if (med.isNaN || med.isInfinite) {
      val dev = new Array[Double](m)
      var i = 0
      while (i < m) { dev(i) = math.abs(a(i) - med); i += 1 }
      java.util.Arrays.sort(dev)
      HampelStats.medianOfSorted(dev, m)
    } else {
      // a(0 until h) <= med <= a(h until m); merge ranks 0..h
      val h = m / 2
      var lo = h - 1
      var hi = h
      var prev = 0.0
      var cur = 0.0
      var rank = 0
      while (rank <= h) {
        prev = cur
        if (hi >= m || (lo >= 0 && java.lang.Double.compare(
            math.abs(a(lo) - med), math.abs(a(hi) - med)) <= 0)) {
          cur = math.abs(a(lo) - med); lo -= 1
        } else {
          cur = math.abs(a(hi) - med); hi += 1
        }
        rank += 1
      }
      if (m % 2 == 1) cur else (prev + cur) / 2.0
    }
  }

  /** `struct(med, rawmad)` of the last `n` rows, usable `.over(frame)`. */
  def apply(v: Column, n: Int): Column =
    ColumnBridge.column(
      TailHampel(ColumnBridge.expression(v), n).toAggregateExpression())
}

/** `stddev_samp` of the last `n` rows of the frame, null unless all `n`
  * rows exist and are non-null (the detectors' `guarded` rule). The value
  * replays Spark's `CentralMomentAgg` update in frame order from its zero
  * state, as a sliding `stddev_samp` frame re-aggregates every row, so
  * the two are bit-identical. For `n = 1` the result follows
  * `spark.sql.legacy.statisticalAggregate` (null, or NaN), read from the
  * session's conf when the column is built.
  */
case class TailStd(
    child: Expression,
    n: Int,
    nullOnDivideByZero: Boolean = !SQLConf.get.legacyStatisticalAggregate,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends TailAggregate {

  override protected def keepSorted: Boolean = false
  override def dataType: DataType = DoubleType

  override def eval(buf: TailRing): Any = TailStd.guarded(buf, nullOnDivideByZero)

  override def withNewMutableAggBufferOffset(newOffset: Int): TailStd =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TailStd =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object TailStd {
  /** Sample stddev of the ring's rows by Spark's `CentralMomentAgg` update
    * `(n, avg, m2)` in push order; null unless the ring is full, and for
    * a one-row ring null, or NaN (the legacy divide-by-zero value) where
    * `nullOnDivideByZero` is false. */
  def guarded(ring: TailRing, nullOnDivideByZero: Boolean): java.lang.Double =
    if (!ring.full || (ring.capacity == 1 && nullOnDivideByZero)) null
    else {
      var n = 0.0
      var avg = 0.0
      var m2 = 0.0
      var i = 0
      while (i < ring.capacity) {
        val newN = n + 1.0
        val delta = ring.valueAt(i) - avg
        val deltaN = delta / newN
        avg = avg + deltaN
        m2 = m2 + delta * (delta - deltaN)
        n = newN
        i += 1
      }
      math.sqrt(m2 / (n - 1.0))
    }

  /** Guarded sample stddev of the last `n` rows, usable `.over(frame)`. */
  def apply(v: Column, n: Int): Column =
    ColumnBridge.column(
      TailStd(ColumnBridge.expression(v), n).toAggregateExpression())
}
