package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ts._

/** The paper's surface: a fixed sequence of detector passes over a
  * persisted synthetic sensor frame, a stored-index screen and the
  * registered `det_*` queries over a generated `events` table. One pass
  * is one unit operation. A cold pass also runs the registered
  * `p109_exact_screen`, whose first run builds and caches its index.
  */
final class DetectBatch extends Workload {
  val Series = 50L
  val Rows = 20000L
  // the wide window is fixed, so a seed changes data and never cost
  val WideWindow = 64
  val EventRows = 10000L
  val tailPercentile = 75.0

  /** One pass: the layer that builds its output, the rows it reads and
    * the call that builds it. Each pass ends in the checksum action.
    */
  private final case class Pass(name: String, layer: String, rows: Long, build: () => DataFrame)

  private var df: DataFrame = _
  private var skewed: DataFrame = _
  private var spark: SparkSession = _
  private var tables: String = _
  private val index = new ExactIndex
  private val loadSeconds = mutable.ArrayBuffer.empty[Double]
  private val sequenceSeconds = mutable.ArrayBuffer.empty[Double]
  private val checksums = mutable.LinkedHashMap.empty[String, Set[Long]]
  private val spec = SeriesSpec(seriesId = Seq("series_id"))
  private val ensemble = CombinedDetector(Seq(
    RangeDetector(-15, 15), DiffDetector(5.0), HampelDetector(5, 3.0)))

  private def h(ctx: Ctx, k: Int): Column =
    abs(xxhash64(col("id"), lit(ctx.seed), lit(k)))

  /** ScaleSmoke's sensor shape with the seed mixed into every hash:
    * smooth signal plus noise, ~0.1% spikes and ~0.1% nulls. With
    * `skew`, one hot series holds 10% of the rows.
    */
  private def frame(ctx: Ctx, skew: Boolean): DataFrame = {
    val pos = col("id") / lit(Series)
    val base = sin(pos / lit(50.0)) * 10 + (h(ctx, 0) % 1000) / lit(1000.0)
    val spike = when(h(ctx, 1) % 1000 === 0, lit(500.0)).otherwise(lit(0.0))
    val (sid, ts) =
      if (skew) (when(col("id") % 10 === 0, lit(0L)).otherwise(col("id") % Series),
        timestamp_micros(lit(1700000000000000L) + col("id") * 1000000L))
      else (col("id") % Series,
        timestamp_micros(lit(1700000000000000L) + (pos.cast("long") * 60000000L)))
    ctx.spark.range(Rows).select(sid.as("series_id"), ts.as("ts"),
      when(h(ctx, 2) % 1000 === 0, lit(null).cast("double"))
        .otherwise(base + spike).as("value"))
  }

  def setup(ctx: Ctx): Unit = {
    spark = ctx.spark
    Option(df).foreach(_.unpersist(blocking = true))
    Option(skewed).foreach(_.unpersist(blocking = true))
    df = frame(ctx, skew = false).persist()
    skewed = frame(ctx, skew = true).persist()
    df.count()
    skewed.count()
    tables = s"${ctx.root}/tables"
    new java.io.File(tables).mkdirs()
    Tables.writeSingle(Tables.events(ctx.spark, ctx.seed, EventRows, 150), tables, "events")
    val t0 = System.nanoTime()
    graft.Tables.load(ctx.spark, tables, "events").schema
    loadSeconds += (System.nanoTime() - t0) / 1e9
    loadSeconds += index.setup(ctx, tables)
  }

  // The hot series holds 2,000 rows at a 10 s cadence: 5,000 s buckets
  // cut it into four chunks, and 1,000 s margins carry 100 rows of
  // context, far more than the ensemble's five. Cold series hold ~370
  // rows and stay whole.
  private def chunked(in: DataFrame): DataFrame =
    ChunkedDetect.detect(ensemble, in, spec, bucketSeconds = 5000L,
      marginSeconds = 1000L, minRowsToChunk = 1500L)

  private def detector(name: String, build: => DataFrame): Pass = Pass(name, "ts", Rows, () => build)

  private def registered(name: String, rows: Long): Pass =
    Pass(name, "relational", rows, () => graft.SparkEntry.queries(name)(spark, tables))

  /** The passes in the order they run. Detector passes read the whole
    * frame; the index screen reads a 40-document batch and the index.
    */
  private val sequence: Seq[Pass] = Seq(
    detector("range", RangeDetector(-15, 15).detect(df, spec)),
    detector("diff", DiffDetector(5.0).detect(df, spec)),
    detector("rolling_std_w5", RollingStdDevDetector(5, 3.0).detect(df, spec)),
    detector(s"rolling_std_w$WideWindow", RollingStdDevDetector(WideWindow, 3.0).detect(df, spec)),
    detector("hampel_w5", HampelDetector(5, 3.0).detect(df, spec)),
    detector(s"hampel_w$WideWindow", HampelDetector(WideWindow, 3.0).detect(df, spec)),
    detector("ensemble", ensemble.detect(df, spec)),
    detector("fit_detect", PerSeriesFit.rangeDetect(df, df, (0.001, 0.999), spec)),
    detector("cusum", CusumDetector(0.5, 12.0, 400.0).detect(df, spec)),
    detector("ensemble_skewed", ensemble.detect(skewed, spec)),
    detector("ensemble_skewed_chunked", chunked(skewed)),
    Pass("index_screen", "pipeline", index.BatchDocs, () => index.screen()),
    registered("det_combined", EventRows),
    registered("det_cusum", EventRows))

  // screens half the documents against a cached index of the other half
  private val artifactPass = registered("p109_exact_screen", index.docCount / 2)
  private val Registered = (sequence :+ artifactPass).filter(_.layer == "relational").map(_.name)

  private def runPass(ctx: Ctx, p: Pass): Long = {
    val sum = ctx.checksum(ctx.tracer.span(p.layer, p.name)(p.build()))
    checksums(p.name) = checksums.getOrElse(p.name, Set.empty) + sum
    sum
  }

  /** On emptied caches: the index's writes, the pass sequence and the
    * artifact build of `p109_exact_screen`, each part timed.
    */
  private def cold(ctx: Ctx): Seq[(String, Double)] = {
    ctx.emptyCaches()
    index.cold(ctx) ++ (sequence :+ artifactPass).map(p => p.name -> Main.timed(runPass(ctx, p)))
  }

  def warmUp(ctx: Ctx): Seq[(String, Double)] = cold(ctx)

  // a round takes 20-25 s: one after the warm-up's cold pass gives
  // cold_s its second sample, and a second would cost a quarter of the run
  val minRounds = 1

  /** A cold pass, then warm pass sequences, at least one, until the
    * round has taken `seconds`.
    */
  def round(ctx: Ctx, seconds: Double): Round = {
    val r0 = System.nanoTime()
    val coldParts = cold(ctx)
    ctx.warmBegin()
    val s0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[(Pass, Double)]
    do {
      val q0 = System.nanoTime()
      ops ++= sequence.flatMap(p => ctx.op(p.name)(runPass(ctx, p)).map(s => (p, s)))
      sequenceSeconds += (System.nanoTime() - q0) / 1e9
    } while ((System.nanoTime() - r0) / 1e9 < seconds)
    val wall = (System.nanoTime() - s0) / 1e9
    ctx.warmEnd()
    index.afterMeasure()
    ctx.info("sequence_s") = sequenceSeconds.toList
    Round(coldParts, ops.map(_._2).toList, ops.map(_._1.rows).sum, wall, ops.map(_._1.name).toList)
  }

  /** Each pass weighs the same: the figures come from each pass's lower
    * median warm latency ([[Round.medians]]; one sample when a single
    * sequence fits the round). The "median pass" is the median over passes of those
    * medians, the tail their 75th percentile, and throughput a
    * sequence's rows over the sum of the medians. The tail is thus the
    * slow end of the pass mix, backed by the 14 per-pass medians: a
    * quantile of the raw latencies would pick a pass type by rank and
    * change with the number of rounds that fit in the phase.
    */
  def summarize(rounds: Seq[Round]): Summary = {
    val medians = Round.medians(rounds)
    val med = sequence.map(p => (medians(p.name), p.rows))
    val tail = Stats.quantile(med.map(_._1), tailPercentile / 100)
    Summary(Stats.median(med.map(_._1)), tail,
      med.map(_._2).sum / med.map(_._1).sum, med.size, med.count(_._1 > tail))
  }

  def verify(ctx: Ctx): Unit = {
    // every pass returned the same checksum on every run
    checksums.foreach { case (n, sums) =>
      ctx.check(sums.size == 1, s"$n returned ${sums.size} different checksums")
    }
    // the ensemble mask is the OR of its members' masks
    val members = ensemble.detectors.zipWithIndex.foldLeft(df) { case (acc, (d, i)) =>
      d.detect(acc, spec.copy(flag = s"m$i"))
    }
    val anyMember = ensemble.detectors.indices.map(i => col(s"m$i")).reduce(_ || _)
    val ored = members.select(col("series_id"), col("ts"), col("value"),
      anyMember.as("is_anomaly"))
    ctx.check(checksums("ensemble") == Set(ctx.checksum(ored)),
      "the ensemble mask differs from the OR of its members' masks")
    ctx.check(ored.filter(col("is_anomaly")).count() > 0L,
      "the ensemble flagged nothing: the planted spikes were missed")
    // the chunked mask is bit-identical to the unchunked one
    ctx.check(checksums("ensemble_skewed_chunked") == checksums("ensemble_skewed"),
      "the chunked ensemble mask differs from the unchunked one")
    index.verify(ctx, checksums("index_screen"))
    // the registered queries' outputs go to the DuckDB oracle check
    val out = s"${ctx.root}/out"
    Registered.foreach(n => graft.SparkEntry.queries(n)(spark, tables).write.parquet(s"$out/$n"))
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json.render(Registered.map(n => n -> oracle(n)).toMap))
  }

  override def layers(ctx: Ctx, rounds: Seq[Round]): Unit = {
    val med = Round.medians(rounds)
    sequence.filter(_.layer == "ts").foreach(p => ctx.put(s"ts.${p.name}_s", med(p.name), "s"))
    ctx.put("ts.window_s", med("diff") - med("range"), "s")
    ctx.put("functions.hampel_kernel_s", med(s"hampel_w$WideWindow") - med("diff"), "s")
    val builds = ctx.spansOf("relational").map(_.seconds)
    ctx.put("relational.build_p50_s", Stats.median(builds), "s")
    ctx.put("relational.build_sum_s", sequence.filter(_.layer == "relational").map(p =>
      Stats.median(ctx.spansOf("relational").filter(_.name == p.name).map(_.seconds))).sum, "s")
    ctx.put("relational.build_jobs", ctx.jobsIn("relational").toDouble / builds.size, "count")
    ctx.put("sources.load_s", Stats.median(loadSeconds.toSeq), "s")
    index.layers(ctx, med("index_screen"))
    ctx.put("pipeline.artifact_builds",
      graft.relational.PipelineQueries.indexBuildsThisJvm.size.toDouble, "count")
  }
}
