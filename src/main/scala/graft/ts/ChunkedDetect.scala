package graft.ts

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Skew-mitigated detector evaluation: split hot series into time-bucket
  * CHUNKS and run the detector with `(seriesId, chunk)` as the window
  * partition key, so one hot series (a sensor holding 10% of all rows in a
  * power-law fleet) no longer serializes an entire stage — its chunks
  * sort and evaluate in parallel across executors.
  *
  * Masks stay BIT-IDENTICAL to the unchunked run because every frame a
  * detector uses is row-bounded ([[Detector.contextRows]] = m): each
  * chunk is padded with CONTEXT copies of the rows within
  * `marginSeconds` of its boundaries (dropped after evaluation), so
  * every original row sees exactly the frame it would see in the
  * whole-series window:
  *
  *   - interior chunk: ≥ m context rows on each side ⇒ full frames, and
  *     positional edge rules (`rn == 1`, first/last-w unflagged) fire
  *     only on context rows, which are discarded;
  *   - series-head/tail chunk: no context beyond the true series edge ⇒
  *     the positional edge rules fire exactly where the reference's do.
  *
  * THREE DESIGN POINTS make this cost ~one exchange+sort, i.e. the same
  * stage shape as the unchunked window with the straggler removed:
  *
  *  1. Context routing is STATELESS — a row's destinations (own bucket,
  *     plus the adjacent bucket when within `marginSeconds` of a
  *     boundary) are pure per-row arithmetic on `ts`, inside whole-stage
  *     codegen. No window, no join, no second shuffle. (A first
  *     implementation routed by row-number with a census join; the extra
  *     full-data shuffle and sort made it SLOWER than the straggler, and
  *     a lambda-filtered array-of-structs explode ran interpreted at 17 s
  *     per 100M rows — the `sequence`-explode form costs ~1 s.)
  *
  *  2. Only chunkable hot series are chunked — every other series keeps
  *     a constant chunk id, making its `(seriesId, chunk)` partition
  *     IDENTICAL to the plain per-series window (hash partitioning
  *     already balances them; only hot sensors straggle). Everything
  *     runs in ONE window job — no hot/cold union, no fallback union, no
  *     double scan — and `bucketSeconds` / `marginSeconds` are sized for
  *     the hot cadence alone (hot sensors are high-cadence by
  *     definition), so margin duplication is a fraction of a percent
  *     instead of the tens of percent a coldest-cadence margin would
  *     cost.
  *
  *  3. ONE census action decides which series are chunked. It counts
  *     rows per (series, bucket) with head- and tail-margin counts — an
  *     aggregate that never shuffles data rows — and a window over those
  *     chunk SUMMARIES gives each series its exact row total and its
  *     relay validity: adjacent chunk ids are consecutive (a time gap
  *     longer than a bucket breaks relay), each boundary margin holds
  *     ≥ min(m, n) rows, and chunks thinner than m rows don't sit
  *     between two neighbors. The driver collects the keys of the series
  *     holding ≥ `minRowsToChunk` rows that pass, and joins them back as
  *     a broadcast local relation. Series failing validation — irregular
  *     cadence vs the chosen margin, long gaps — take the constant chunk
  *     id like cold series, i.e. the exact unchunked window; detectors
  *     with unbounded context (`contextRows < 0`: the EWMA, Holt and
  *     CUSUM recursions, which chunk through their own segmented scan,
  *     [[RecursiveDetector.detectChunked]]) and per-row detectors
  *     (`contextRows == 0`, nothing to straggle) skip chunking
  *     altogether. Margins too small never break correctness —
  *     they just leave series unchunked.
  *
  * A small input (its plan's size estimate at or below AQE's minimum
  * partition size, [[TsOps.small]]) skips all of this: [[detect]] returns
  * `det.detect(df, spec)`, which runs in one partition, so there is no
  * straggler to split and the masks are the unchunked ones by
  * construction.
  *
  * At 100 TB this is the difference between a stage bounded by the
  * largest sensor and one bounded by `bucketSeconds` of any sensor. Pick
  * `bucketSeconds` so a hot sensor's bucket holds ~10⁵-10⁶ rows, and
  * `marginSeconds` to cover `contextRows` rows at the hot cadence.
  */
object ChunkedDetect {

  private val C = "__chunk"
  private val CTX = "__ctx"
  private val HOT = "__hotseries"

  /** Evaluate `det.detect` with per-series time-bucket chunking.
    *
    * @param bucketSeconds chunk width in seconds of `spec.ts` time; every
    *   series is cut at the same absolute bucket boundaries.
    * @param marginSeconds boundary zone copied to the adjacent chunk as
    *   context; defaults to `bucketSeconds / 4`. Must cover
    *   `det.contextRows` rows at the chunked series' cadence or the
    *   series stays unchunked.
    * @param minRowsToChunk only series holding at least this many rows
    *   (an exact per-series count from the census) are chunked; 0 chunks
    *   every series that passes validation.
    */
  def detect(det: Detector, df: DataFrame, spec: SeriesSpec,
      bucketSeconds: Long, marginSeconds: Long = -1L,
      minRowsToChunk: Long = 0L): DataFrame = {
    val margin = if (marginSeconds > 0) marginSeconds else bucketSeconds / 4
    require(bucketSeconds > 0, "bucketSeconds must be positive")
    require(margin > 0 && margin <= bucketSeconds,
      "marginSeconds must be in (0, bucketSeconds]")
    val m = det.contextRows
    // a small input runs in one partition (Detector.detect), where no
    // straggler is left to split: no census, no key join, no chunk exchange
    if (m <= 0 || TsOps.small(df)) return det.detect(df, spec)

    val sid = spec.seriesId
    val bMicros = bucketSeconds * 1000000L
    val mMicros = margin * 1000000L
    val tsu = unix_micros(col(spec.ts).cast(TimestampType))
    val bucket = floor(tsu / bMicros).cast("long")

    // ---- the census: per-chunk counts, then a window over the chunk
    // summaries — the data rows are never shuffled
    val off = tsu - bucket * bMicros // offset inside the bucket, [0, b)
    val wSeries = if (sid.isEmpty) Window.partitionBy()
                  else Window.partitionBy(sid.map(col): _*)
    val wChunks = wSeries.orderBy(col(C))
    // a chunk fails as a FORWARD context provider when its successor
    // isn't the adjacent bucket, its tail margin misses rows a frame
    // needs, or it's too thin to relay (< m rows with neighbors both
    // sides); mirrored backward
    val badFwd = col("__nextC").isNotNull && (col("__nextC") =!= col(C) + 1 ||
      col("__tm") < least(lit(m.toLong), col("__n")) ||
      (col("__n") < m && col("__prevC").isNotNull))
    val badBwd = col("__prevC").isNotNull && (col("__prevC") =!= col(C) - 1 ||
      col("__hm") < least(lit(m.toLong), col("__n")) ||
      (col("__n") < m && col("__nextC").isNotNull))
    val chunkable = df
      .groupBy((sid.map(col) :+ bucket.as(C)): _*)
      .agg(count(lit(1)).as("__n"),
        count(when(off < mMicros, 1)).as("__hm"),
        count(when(off >= bMicros - mMicros, 1)).as("__tm"))
      .select((sid :+ C).map(col) ++ Seq(col("__n"), col("__hm"), col("__tm"),
        lag(col(C), 1).over(wChunks).as("__prevC"),
        lead(col(C), 1).over(wChunks).as("__nextC")): _*)
      .select((sid :+ "__prevC").map(col) ++ Seq(
        sum(col("__n")).over(wSeries).as("__total"),
        max((badFwd || badBwd).cast("int")).over(wSeries).as("__bad")): _*)
      // one row per series: its first chunk
      .filter(col("__prevC").isNull && col("__total") >= minRowsToChunk &&
        col("__bad") === 0)
      .select(sid.map(col): _*)
      .collect() // the ONE census action
    if (chunkable.isEmpty) return det.detect(df, spec)

    val data =
      if (sid.isEmpty) df.withColumn(HOT, lit(true)) // single unnamed series
      else {
        val keys = df.sparkSession.createDataFrame(chunkable.toSeq.asJava,
            StructType(sid.map(df.schema(_))))
          .withColumn(HOT, lit(true))
        df.join(broadcast(keys), sid, "left")
          .select(df.columns.map(df.col) :+
            coalesce(col(HOT), lit(false)).as(HOT): _*)
      }
    padAndDetect(det, data.withColumn(C, when(col(HOT), bucket).otherwise(lit(0L))),
      spec.copy(seriesId = sid :+ C), bMicros, mMicros).drop(C, CTX, HOT)
  }

  /** Pad each hot chunk with the margin-zone rows of its neighbors (pure
    * per-row routing via explode), evaluate, drop the context rows.
    * `data` must carry the `C` and `HOT` columns.
    */
  private def padAndDetect(det: Detector, data: DataFrame,
      chunkSpec: SeriesSpec, bMicros: Long, mMicros: Long): DataFrame = {
    val tsu = unix_micros(col(chunkSpec.ts).cast(TimestampType))
    val off = tsu - col(C) * bMicros
    // every expression here stays inside whole-stage codegen (see the
    // scaladoc war story); copy index k: 0 = the row itself, 1..2 =
    // tail-margin copy to chunk+1 and/or head-margin copy to chunk-1.
    // Cold rows never copy.
    val inTail = col(HOT) && off >= bMicros - mMicros
    val inHead = col(HOT) && off < mMicros
    val nCopies = when(inTail && inHead, 2)
      .when(inTail || inHead, 1).otherwise(0)
    val padded = data
      .withColumn("__k", explode(sequence(lit(0), nCopies)))
      .withColumn(CTX, col("__k") =!= 0)
      .withColumn(C, when(col("__k") === 0, col(C))
        .when(col("__k") === 1 && inTail, col(C) + 1)
        .otherwise(col(C) - 1))
      .drop("__k")
    // context copies landing in buckets with no original rows (series
    // edges, margins spanning gaps) form spurious all-context partitions:
    // every row is filtered out after evaluation — wasted work bounded by
    // the margin fraction, correctness unaffected
    det.detect(padded, chunkSpec).filter(!col(CTX))
  }
}
