package graft.functions

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Aggregate computing the Hampel filter's two order statistics —
  * `med = median(group)` and `rawmad = median(|group - med|)` — in ONE
  * buffer, registered in SQL as `hampel_stats`. It sorts a primitive
  * buffer once and derives both medians from it, with the same sort
  * order and middle-element averaging as numpy's `nanmedian`.
  *
  * Nulls are skipped on update (matching `collect_list` /
  * `np.nanmedian`); an all-null group yields a null struct.
  *
  * Over a bounded sliding window frame Spark re-aggregates the whole
  * frame on every row, so [[graft.ts.HampelDetector]] does not use it
  * there: it reads the same struct, bit for bit, from [[TailHampel]]
  * over the growing frame, one ring push per row.
  */
case class HampelStats(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[HampelStats.Buffer] {

  import HampelStats.Buffer

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = HampelStats.OutType

  override def createAggregationBuffer(): Buffer = new Buffer()

  override def update(buf: Buffer, input: InternalRow): Buffer = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Double])
    buf
  }

  override def merge(b1: Buffer, b2: Buffer): Buffer = { b1.addAll(b2); b1 }

  override def eval(buf: Buffer): Any = {
    val n = buf.size
    if (n == 0) return null
    val arr = buf.toSortedArray
    val med = HampelStats.medianOfSorted(arr)
    var i = 0
    val dev = new Array[Double](n)
    while (i < n) { dev(i) = math.abs(arr(i) - med); i += 1 }
    java.util.Arrays.sort(dev)
    new GenericInternalRow(Array[Any](med, HampelStats.medianOfSorted(dev)))
  }

  override def serialize(buf: Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    var i = 0
    while (i < buf.size) { out.writeDouble(buf.values(i)); i += 1 }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Buffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new Buffer()
    var i = 0
    while (i < n) { buf.add(bb.getDouble); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): HampelStats =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HampelStats =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

object HampelStats {
  val OutType: StructType = StructType(Seq(
    StructField("med", DoubleType), StructField("rawmad", DoubleType)))

  /** Growable primitive double buffer (no boxing on the update path). */
  final class Buffer {
    var values: Array[Double] = new Array[Double](16)
    var size: Int = 0
    def add(v: Double): Unit = {
      if (size == values.length) values = java.util.Arrays.copyOf(values, size * 2)
      values(size) = v; size += 1
    }
    def addAll(o: Buffer): Unit = {
      var i = 0
      while (i < o.size) { add(o.values(i)); i += 1 }
    }
    def toSortedArray: Array[Double] = {
      val a = java.util.Arrays.copyOf(values, size)
      java.util.Arrays.sort(a); a
    }
  }

  /** numpy nanmedian rule on a sorted array. */
  def medianOfSorted(a: Array[Double]): Double = medianOfSorted(a, a.length)

  /** numpy nanmedian rule on the sorted prefix `a(0 until n)`. */
  def medianOfSorted(a: Array[Double], n: Int): Double =
    if (n % 2 == 1) a(n / 2) else (a(n / 2 - 1) + a(n / 2)) / 2.0

  /** `hampel_stats(v)` as a Column aggregate, usable `.over(frame)`. */
  def apply(v: Column): Column =
    ColumnBridge.column(
      HampelStats(ColumnBridge.expression(v)).toAggregateExpression())
}
