package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ts._

/** Synthetic scale smoke (SURVEY.md §5.2 #5): many series × many rows
  * through the detector ensemble, far beyond the driver test tables.
  * Generates data distributively (spark.range — no driver materialization),
  * so row count is bounded only by cluster size; prints rows/s per stage.
  *
  * Usage: runMain graft.ScaleSmoke [totalRows] [numSeries]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val totalRows = args.headOption.map(_.toLong).getOrElse(20000000L)
    val numSeries = args.lift(1).map(_.toLong).getOrElse(10000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // deterministic synthetic sensors: smooth signal + hash noise,
    // ~0.1% injected spikes, 0.1% nulls, strictly increasing per-series ts
    val pos = col("id") / lit(numSeries)
    val noise = (abs(hash(col("id"))) % 1000) / lit(1000.0)
    val base = sin(pos / lit(50.0)) * 10 + noise
    val spike = when(abs(hash(col("id"), lit(1))) % 1000 === 0, lit(500.0)).otherwise(lit(0.0))
    val df = spark.range(totalRows).select(
      (col("id") % numSeries).as("series_id"),
      timestamp_micros(lit(1700000000000000L) +
        (col("id") / lit(numSeries)).cast("long") * 60000000L).as("ts"),
      when(abs(hash(col("id"), lit(2))) % 1000 === 0, lit(null).cast("double"))
        .otherwise(base + spike).as("value"))
      .persist()
    val n = df.count()
    val spec = SeriesSpec(seriesId = Seq("series_id"))

    def stage(name: String)(flagged: => Long): Unit = {
      val t0 = System.nanoTime()
      val f = flagged
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scale] $name%-24s $sec%8.2fs  ${n / sec / 1e6}%6.2fM rows/s  flagged=$f")
    }

    println(s"[scale] rows=$n series=$numSeries cores=$cpus")
    stage("range")(RangeDetector(-15, 15).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("diff")(DiffDetector(5.0).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("rolling_std_w10")(RollingStdDevDetector(10, 3.0).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("rolling_std_w64")(RollingStdDevDetector(64, 3.0).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("hampel_w5")(HampelDetector(5, 3.0).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("hampel_w64")(HampelDetector(64, 3.0).detect(df, spec)
      .filter(col("is_anomaly")).count())
    stage("ensemble_3det")(CombinedDetector(Seq(
      RangeDetector(-15, 15), DiffDetector(5.0), HampelDetector(5, 3.0)))
      .detect(df, spec).filter(col("is_anomaly")).count())
    stage("fit_per_series_range")(PerSeriesFit.rangeDetect(df, df,
      quantiles = (0.001, 0.999), spec = spec)
      .filter(col("is_anomaly")).count())

    // ---- skew: one hot series holds ~10% of ALL rows (power-law corpus
    // shape). Window detectors need each series co-resident in one task,
    // so the hot series is inherently a straggler partition — AQE cannot
    // split a window partition and salting would break the row order. The
    // smoke proves the job completes under that skew AND that the hot
    // series' mask is bit-identical to running it through the uniform
    // (single-series) path; the printed time shows the straggler cost.
    val skewDf = spark.range(totalRows).select(
      when(col("id") % 10 === 0, lit(0L))
        .otherwise(col("id") % numSeries).as("series_id"),
      // globally increasing ts stays strictly increasing inside every series
      timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L).as("ts"),
      when(abs(hash(col("id"), lit(2))) % 1000 === 0, lit(null).cast("double"))
        .otherwise(base + spike).as("value"))
      .persist()
    skewDf.count()
    def hotMaskChecksum(masked: org.apache.spark.sql.DataFrame): Long =
      masked.filter(col("series_id") === 0)
        .select(sum(when(col("is_anomaly"), abs(hash(col("ts"))))
          .otherwise(lit(0L))).cast("long"))
        .head().getLong(0)
    val ensemble = CombinedDetector(Seq(
      RangeDetector(-15, 15), DiffDetector(5.0), HampelDetector(5, 3.0)))
    // timed stages are count-only — the SAME action as the uniform
    // ensemble_3det stage, so the skewed/uniform ratio is a clean
    // straggler-cost measure; mask checksums are verified untimed below
    stage("ensemble_skewed_10pct")(
      ensemble.detect(skewDf, spec).filter(col("is_anomaly")).count())
    val skewedChecksum = hotMaskChecksum(ensemble.detect(skewDf, spec))
    val aloneChecksum = hotMaskChecksum(
      ensemble.detect(skewDf.filter(col("series_id") === 0), spec))
    assert(skewedChecksum == aloneChecksum,
      s"hot-series mask diverged under skew: $skewedChecksum != $aloneChecksum")
    println(s"[scale] skew check: hot-series mask identical to uniform path " +
      s"(checksum $skewedChecksum)")

    // ---- skew MITIGATED: same ensemble through ChunkedDetect — only the
    // hot series (minRowsToChunk gate, an exact count from the one
    // census action) is cut into time-bucket chunks with boundary-margin
    // context copied by stateless per-row routing; cold series keep
    // their plain window inside the same job.
    // Sizing is for the HOT cadence alone (one row per 10 s over
    // totalRows seconds): the hot series holds ~totalRows/10 rows, so a
    // gate at half of that chunks it at every size while a cold series
    // (~0.9·totalRows/numSeries rows) stays whole; totalRows/10-second
    // buckets (at least 200k s) cut it into up to 10 chunks, 20k s
    // margins hold 2000 rows ≫ the ensemble's contextRows = 5.
    def chunkedOut = ChunkedDetect.detect(ensemble, skewDf, spec,
      bucketSeconds = math.max(200000L, totalRows / 10), marginSeconds = 20000L,
      minRowsToChunk = math.max(1L, totalRows / 20))
    stage("ensemble_skew_chunked")(
      chunkedOut.filter(col("is_anomaly")).count())
    val chunkedChecksum = hotMaskChecksum(chunkedOut)
    assert(chunkedChecksum == skewedChecksum,
      s"chunked skew mask diverged: $chunkedChecksum != $skewedChecksum")
    println(s"[scale] chunked skew check: masks bit-identical to unchunked " +
      s"(checksum $chunkedChecksum)")

    // ---- round-4 operators at the same scale: gap interpolation over
    // the ~0.1% injected nulls (same one-window-group shape as a
    // detector) and as-of enrichment of every reading with its series'
    // latest calibration record (~1 right row per series per 1000 min;
    // union + one windowed scan — the whole point is that 100M left
    // rows cost ONE shuffle, not a per-key range probe)
    // CUSUM: sequential per-series scan, then the max-plus segmented
    // scan treating the WHOLE frame as one series (the distributed
    // formulation a billion-row single sensor needs)
    // slack 12 swallows the ±10 sine drift; only the injected 500-spikes
    // accumulate, tripping immediately and decaying over ~40 samples
    stage("cusum")(CusumDetector(target = 0.5, slack = 12.0, threshold = 400.0)
      .detect(df, spec).filter(col("is_anomaly")).count())
    stage("cusum_chunked_1series")(
      CusumDetector(target = 0.5, slack = 12.0, threshold = 400.0)
        .detectChunked(df.drop("series_id"), SeriesSpec(), 3600L)
        .filter(col("is_anomaly")).count())
    stage("interpolate")(Interpolate.linear(df, spec)
      .filter(col("interpolated")).count())
    val calib = spark.range(numSeries * 100).select(
      (col("id") % numSeries).as("series_id"),
      timestamp_micros(lit(1700000000000000L) +
        (col("id") / lit(numSeries)).cast("long") * 60000000000L).as("ts"),
      col("id").as("cal_id"),
      (abs(hash(col("id"))) % 1000 / lit(1000.0)).as("cal_offset"))
    stage("asof_calibration")(graft.relational.AsOf.join(
        df, calib, keys = Seq("series_id"), tsCol = "ts",
        rightId = "cal_id", rightVals = Seq("cal_offset"))
      .filter(col("cal_offset_r").isNotNull).count())
    spark.stop()
  }
}
