package graft.relational

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbridge.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import graft.pipeline.Dedup
import graft.ts._

/** Building a plan starts no Spark job the plan itself does not need:
  * stored parquet is read with its schema taken from one footer on the
  * driver, never by Spark's one-task inference job; a detector places
  * its input from plan statistics alone; and ChunkedDetect decides its
  * chunks with ONE census action above the small-input bound, none below.
  */
class BuildJobsSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  /** The SQL execution of every job `body` starts; None marks a job
    * outside any SQL execution, which is what Spark's parquet schema
    * inference runs. The listener bus is drained on both sides, so no
    * earlier job leaks in and no job of `body` is missed.
    */
  private def jobsOf(body: => Any): Seq[Option[String]] = {
    val sc = spark.sparkContext
    ListenerBus.drain(sc)
    val started = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
    }
    sc.addSparkListener(listener)
    try { body; ListenerBus.drain(sc) } finally sc.removeSparkListener(listener)
    started.asScala.toSeq
  }

  /** Builds every det_* entry: each starts jobs in `actions(name)` SQL
    * executions (0 when absent), none outside one.
    */
  private def detEntries(actions: Map[String, Int]): Unit =
    for ((name, build) <- DetectorQueries.queries.toSeq.sortBy(_._1)) {
      val jobs = jobsOf(build(spark, sfDir))
      assert(jobs.forall(_.isDefined),
        s"$name started a job outside any SQL execution (schema inference)")
      assert(jobs.flatten.distinct.size == actions.getOrElse(name, 0),
        s"$name started ${jobs.size} jobs in ${jobs.flatten.distinct.size} executions")
    }

  // the three global fits collect their threshold, each in one SQL
  // execution; every other entry builds without touching the data
  private val fits = Map("det_range_fit" -> 1, "det_diff_fit" -> 1, "det_rolling_std_fit" -> 1)

  testAboveSmallBound("building Tables.load and every det_* entry starts no job beyond its own actions") {
    assert(jobsOf(graft.Tables.load(spark, sfDir, "events")).isEmpty)
    // above the small-input bound the chunked ensemble collects its census
    detEntries(fits + ("det_combined_chunked" -> 1))
  }

  test("below the small-input bound every det_* entry starts only its fit's action: no census") {
    detEntries(fits)
  }

  testAboveSmallBound("building ChunkedDetect.detect starts exactly one census action") {
    val df = stackedDf(Seq(loadGolden("walk"), loadGolden("quant_train"))).cache()
    df.count()
    val jobs = jobsOf(ChunkedDetect.detect(HampelDetector(5, 3), df,
      SeriesSpec(seriesId = Seq("sid")), 24 * 3600L, 12 * 3600L, minRowsToChunk = 500L))
    assert(jobs.nonEmpty && jobs.forall(_.isDefined))
    assert(jobs.flatten.distinct.size == 1, s"census ran as ${jobs.flatten.distinct}")
    df.unpersist()
  }

  test("building any detector over a persisted frame starts no job beyond the census: placement reads plan statistics only") {
    val df = stackedDf(Seq(loadGolden("walk"), loadGolden("quant_train"))).persist()
    df.count()
    val spec = SeriesSpec(seriesId = Seq("sid"))
    val windowed = CombinedDetector(Seq(RangeDetector(0, 2), DiffDetector(0.5),
      HampelDetector(5, 3)))
    val builds: Seq[(String, () => DataFrame)] = Seq(
      "range" -> (() => RangeDetector(0, 2).detect(df, spec)),
      "diff" -> (() => DiffDetector(0.5).detect(df, spec)),
      "gradient" -> (() => GradientDetector(1e-4).detect(df, spec)),
      "rolling_std" -> (() => RollingStdDevDetector(4, 0.5).detect(df, spec)),
      "hampel" -> (() => HampelDetector(5, 3).detect(df, spec)),
      "constant_value" -> (() => ConstantValueDetector(3, 1e-4).detect(df, spec)),
      "constant_gradient" -> (() => ConstantGradientDetector(3).detect(df, spec)),
      "ewma" -> (() => EwmaDetector(0.3, 3.0).detect(df, spec)),
      "holt" -> (() => HoltDetector(0.5, 0.3, 3.0).detect(df, spec)),
      "cusum" -> (() => CusumDetector(0.0, 0.5, 3.0).detect(df, spec)),
      "ensemble" -> (() => CombinedDetector(windowed.detectors :+
        CusumDetector(0.0, 0.5, 3.0)).detect(df, spec)),
      "per_series_range" -> (() => PerSeriesFit.rangeDetect(df, df, spec = spec)),
      "per_series_rolling_std" -> (() => PerSeriesFit.rollingStdDetect(df, df, 4, spec = spec)),
      "chunked" -> (() => ChunkedDetect.detect(windowed, df, spec, 24 * 3600L)))
    try {
      assert(TsOps.small(df))
      for ((name, build) <- builds) {
        // above the bound the chunked ensemble collects its census
        val above = aboveSmallBound(jobsOf(build())).flatten.distinct.size
        assert(above == (if (name == "chunked") 1 else 0),
          s"building $name above the bound started jobs in $above executions")
        val below = jobsOf(build())
        assert(below.isEmpty, s"building $name below the bound started ${below.size} job(s)")
      }
    } finally df.unpersist()
  }

  test("loading a 3-file exact index starts no schema-inference job") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("build-jobs-exact").toString
    val docs = (0 until 30).map(i => (i.toLong, s"doc ${i % 11}")).toDF("doc_id", "text")
    Dedup.saveExactIndex(docs.filter($"doc_id" < 10), "doc_id", "text", dir)
    Dedup.mergeIntoExactIndex(docs.filter($"doc_id".between(10, 19)), dir, "doc_id", "text")
    Dedup.mergeIntoExactIndex(docs.filter($"doc_id" >= 20), dir, "doc_id", "text")
    val files = new java.io.File(s"$dir/index").listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files == 3, s"expected a 3-file index, got $files files")
    val jobs = jobsOf(Dedup.loadExactIndex(spark, dir))
    assert(jobs.forall(_.isDefined),
      s"loading started ${jobs.count(_.isEmpty)} schema-inference jobs")
    // what stays: the one meta action and one probe per file
    assert(jobs.flatten.distinct.size == 1 + files)
  }
}
