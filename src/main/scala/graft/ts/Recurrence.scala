package graft.ts

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The arithmetic of one per-series recursion that no window frame can
  * express (EWMA, Holt, CUSUM), with primitive mutable state, run by the
  * batch and chunked scans ([[Recurrence]]) and by the stream
  * ([[graft.streaming.StreamingDetectors.recurrenceStream]]).
  *
  * A chunk transfer is the recursion composed over a run of samples, as
  * doubles: `identity` is the empty run, `absorb` appends a sample,
  * `transfer` applies a run to the seeded state. A series that begins
  * inside a chunk takes instead the state `step` reaches from `reset`.
  */
trait RecurrenceKernel extends Serializable {
  /** Back to the state before the series' first sample. */
  def reset(): Unit
  /** Absorbs one non-null sample; true flags it as an anomaly. */
  def step(x: Double): Boolean
  /** False only before the first sample of a kernel that seeds its
    * state from it; only a seeded state is saved and carried on.
    */
  def seeded: Boolean
  def save(): Array[Double]
  def load(s: Array[Double]): Unit
  def identity: Array[Double]
  /** Appends one non-null sample to the run `t`, in place. */
  def absorb(t: Array[Double], x: Double): Unit
  def transfer(t: Array[Double]): Unit
}

/** A detector whose mask is one [[RecurrenceKernel]] scanned over each
  * series in time order; nulls (and NaN) pass through unflagged without
  * touching the state.
  */
trait RecursiveDetector extends Detector {

  /** A kernel in its reset state. */
  def kernel(): RecurrenceKernel

  override protected def detectImpl(df: DataFrame, spec: SeriesSpec): DataFrame =
    Recurrence.detect(df, spec, () => kernel())

  /** Segmented scan for giant series ([[Recurrence.detectChunked]]); the
    * detector's documentation says when it is bit-identical to [[detect]].
    */
  def detectChunked(df: DataFrame, spec: SeriesSpec,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    validate(df, spec)
    Recurrence.detectChunked(df, spec, bucketSeconds, () => kernel())
  }
}

/** The per-series scan behind every [[RecurrenceKernel]] (SURVEY.md's
  * "(d) mapPartitions as a last resort"): repartition by series, sort
  * within partitions by (series, time), then one linear scan per
  * partition that resets the kernel on each series change.
  */
object Recurrence {

  private val V = "__v"
  private val C = "__rec_chunk"
  private val HasVal = "__has_val"
  private val Seeded = "__seeded"
  private def tCols(n: Int) = (0 until n).map(i => s"__t$i")
  private def sCols(n: Int) = (0 until n).map(i => s"__s$i")

  /** One scan per series. A small input ([[TsOps.small]]) is scanned in
    * one partition with no shuffle; a larger one is repartitioned by
    * series, or, with an empty `spec.seriesId` (the whole frame one
    * series), shuffled into ONE partition.
    */
  def detect(df: DataFrame, spec: SeriesSpec,
      kernel: () => RecurrenceKernel): DataFrame = {
    val sid = spec.seriesId
    def withV(d: DataFrame) = d.withColumn(V, TsOps.cleanValue(spec))
    val arranged =
      // coalesced before the value column is added, so that it collapses
      // into the coalesce of Detector.detect's placement
      (if (TsOps.small(df)) withV(df.coalesce(1))
       else if (sid.isEmpty) withV(df).repartition(1)
       else withV(df).repartition(sid.map(col): _*))
        .sortWithinPartitions((sid ++ spec.orderBy).map(col): _*)
    scan(arranged, sid, spec.flag, kernel, entryWidth = 0)
      .select((df.columns.toSeq :+ spec.flag).map(col): _*)
  }

  /** Cuts every series at absolute `bucketSeconds` boundaries of
    * `spec.ts` and runs three distributed passes:
    *
    *   1. per (series, bucket) chunk: one scan computing the chunk's
    *      transfer and self-seeded state;
    *   2. per series over the chunk SUMMARIES (rows = #chunks, tiny):
    *      compose the transfers in order → each chunk's entry state;
    *   3. per chunk: the plain scan, seeded with its entry state.
    *
    * Null keys group as in [[detect]]: null series ids form one series,
    * and null-ts rows a chunk that sorts first. Masks equal [[detect]]'s
    * wherever the transfer arithmetic is exact; otherwise entry states
    * can drift by ulps, and a flag can differ only where the flagged
    * quantity sits within that drift of the threshold.
    */
  def detectChunked(df: DataFrame, spec: SeriesSpec, bucketSeconds: Long,
      kernel: () => RecurrenceKernel): DataFrame = {
    val proto = kernel()
    val (tw, sw) = (proto.identity.length, proto.save().length)
    val sid = spec.seriesId
    val keyCols = sid :+ C
    val tsu = unix_micros(col(spec.ts).cast(TimestampType))
    val arranged = df
      .withColumn(V, TsOps.cleanValue(spec))
      // null-ts rows: the lowest chunk id, which no timestamp reaches
      .withColumn(C, coalesce(floor(tsu / (bucketSeconds * 1000000L)).cast(LongType),
        lit(Long.MinValue)))
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ spec.orderBy).map(col): _*)
    val keyFields = keyCols.map(arranged.schema(_))
    val keyIdx = keyCols.map(arranged.schema.fieldIndex)
    val vIdx = arranged.schema.fieldIndex(V)

    // ---- pass 1: chunk transfer + self-seeded state (one row per chunk)
    val sumSchema = StructType(keyFields ++
      (tCols(tw) ++ sCols(sw)).map(StructField(_, DoubleType, nullable = false)) :+
      StructField(HasVal, BooleanType, nullable = false))
    val summaries = arranged.mapPartitions({ rows =>
      val k = kernel()
      new Iterator[Row] {
        private val it = rows.buffered
        def hasNext: Boolean = it.hasNext
        def next(): Row = {
          val key = keyIdx.map(it.head.get)
          val t = k.identity
          k.reset()
          var seen = false
          while (it.hasNext && keyIdx.map(it.head.get) == key) {
            val r = it.next()
            if (!r.isNullAt(vIdx)) {
              k.absorb(t, r.getDouble(vIdx))
              k.step(r.getDouble(vIdx))
              seen = true
            }
          }
          Row.fromSeq(key ++ t ++ k.save() :+ seen)
        }
      }
    }: Iterator[Row] => Iterator[Row])(Encoders.row(sumSchema)).toDF()

    // ---- pass 2: compose transfers per series → chunk entry states ----
    val entrySchema = StructType(keyFields ++
      (StructField(Seeded, BooleanType, nullable = false) +:
        sCols(sw).map(StructField(_, DoubleType, nullable = false))))
    val tIdx = tCols(tw).map(sumSchema.fieldIndex)
    val sIdx = sCols(sw).map(sumSchema.fieldIndex)
    val hvIdx = sumSchema.fieldIndex(HasVal)
    val entries =
      (if (sid.isEmpty) summaries.repartition(1)
       else summaries.repartition(sid.map(col): _*))
        .sortWithinPartitions(keyCols.map(col): _*)
        .mapPartitions({ rows =>
          val k = kernel()
          var curKey: Seq[Any] = null
          rows.map { r =>
            val key = sid.indices.map(r.get)
            if (key != curKey) { curKey = key; k.reset() }
            val entry = Row.fromSeq((key :+ r.get(sid.length)) ++
              (k.seeded +: k.save().toSeq))
            if (r.getBoolean(hvIdx)) {
              if (k.seeded) k.transfer(tIdx.map(r.getDouble).toArray)
              else k.load(sIdx.map(r.getDouble).toArray)
            }
            entry
          }
        }: Iterator[Row] => Iterator[Row])(Encoders.row(entrySchema)).toDF()

    // ---- pass 3: each chunk's scan, seeded with its entry state --------
    // null-safe on the series ids; the never-null chunk id stays a plain
    // key, as a null-safe one makes a slower composite hash key
    val eKeys = keyCols.indices.map(i => s"__e$i")
    val joined = arranged
      .join(entries.toDF(eKeys ++ entrySchema.fieldNames.drop(keyCols.length): _*),
        sid.zip(eKeys).map { case (k, e) => col(k) <=> col(e) }
          .foldLeft(col(C) === col(eKeys.last))(_ && _))
      .drop(eKeys: _*)
      .repartition(keyCols.map(col): _*)
      .sortWithinPartitions((keyCols ++ spec.orderBy).map(col): _*)
    scan(joined, keyCols, spec.flag, kernel, entryWidth = sw)
      .select((df.columns.toSeq :+ spec.flag).map(col): _*)
  }

  /** Rows arrive grouped by `keys`, in time order. The kernel resets at
    * each key change, loading the row's entry state (`__seeded`, `__s*`)
    * when `entryWidth > 0`; each non-null `__v` steps it for its flag.
    */
  private def scan(arranged: DataFrame, keys: Seq[String], flag: String,
      kernel: () => RecurrenceKernel, entryWidth: Int): DataFrame = {
    val schema = arranged.schema
    val keyIdx = keys.map(schema.fieldIndex)
    val vIdx = schema.fieldIndex(V)
    val seededIdx = if (entryWidth > 0) schema.fieldIndex(Seeded) else -1
    val sIdx = sCols(entryWidth).map(schema.fieldIndex)
    arranged.mapPartitions({ rows =>
      val k = kernel()
      var curKey: Seq[Any] = null
      rows.map { r =>
        val key = keyIdx.map(r.get)
        if (key != curKey) {
          curKey = key
          k.reset()
          if (seededIdx >= 0 && r.getBoolean(seededIdx))
            k.load(sIdx.map(r.getDouble).toArray)
        }
        val anomaly = !r.isNullAt(vIdx) && k.step(r.getDouble(vIdx))
        Row.fromSeq(r.toSeq :+ anomaly)
      }
    }: Iterator[Row] => Iterator[Row])(Encoders.row(StructType(schema.fields :+
      StructField(flag, BooleanType, nullable = false)))).toDF()
  }
}
