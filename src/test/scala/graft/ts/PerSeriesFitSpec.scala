package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-series fit must equal running the reference's global fit
  * independently on each series.
  */
class PerSeriesFitSpec extends SparkSpecBase {

  val names = Seq("range_normal", "walk", "irregular", "jump_normal")
  lazy val stacked = stackedDf(names.map(loadGolden)).cache()
  val spec = SeriesSpec(seriesId = Seq("sid"))

  def perSeriesMask(out: DataFrame, s: String): Vector[Boolean] =
    maskOf(out.filter(col("sid") === s))

  test("per-series range fit == per-series global RangeDetector fits") {
    val joint = PerSeriesFit.rangeDetect(stacked, stacked, spec = spec)
    for (n <- names) {
      val single = seriesDf(loadGolden(n))
      val want = maskOf(RangeDetector().fit(single).detect(single))
      assert(perSeriesMask(joint, n) == want, n)
    }
  }

  test("per-series diff fit == per-series global DiffDetector fits") {
    val joint = PerSeriesFit.diffDetect(stacked, stacked, spec = spec)
    for (n <- names) {
      val single = seriesDf(loadGolden(n))
      val want = maskOf(DiffDetector().fit(single).detect(single))
      assert(perSeriesMask(joint, n) == want, n)
    }
  }

  test("per-series gradient fit == per-series global GradientDetector fits") {
    val joint = PerSeriesFit.gradientDetect(stacked, stacked, spec = spec)
    for (n <- names) {
      val single = seriesDf(loadGolden(n))
      val want = maskOf(GradientDetector().fit(single).detect(single))
      assert(perSeriesMask(joint, n) == want, n)
    }
  }

  test("per-series rolling-std fit == per-series global RollingStdDev fits") {
    val joint = PerSeriesFit.rollingStdDetect(stacked, stacked, windowSize = 4, spec = spec)
    for (n <- names) {
      val single = seriesDf(loadGolden(n))
      val want = maskOf(RollingStdDevDetector(4).fit(single).detect(single))
      assert(perSeriesMask(joint, n) == want, n)
    }
  }

  test("train/score split: thresholds come from the train frame only") {
    val train = stacked.filter(col("value") < 5 || col("value").isNull)
    val joint = PerSeriesFit.rangeDetect(train, stacked, spec = spec)
    for (n <- names) {
      val g = loadGolden(n)
      val single = seriesDf(g)
      val singleTrain = single.filter(col("value") < 5 || col("value").isNull)
      val want = maskOf(RangeDetector().fit(singleTrain).detect(single))
      assert(perSeriesMask(joint, n) == want, n)
    }
  }

  test("a null series id is a series of its own: its rows meet its own fit") {
    // walk under a null id beside a named series; thresholds from the
    // first 60 hours, scored over everything
    val cut = java.sql.Timestamp.valueOf("2020-01-03 12:00:00")
    val parts = Seq("walk", "jump_normal")
    val df = stackedDf(parts.map(loadGolden)).withColumn("sid",
      when(col("sid") =!= "walk", col("sid")))
    val train = df.filter(col("ts") < cut)
    val fits: Seq[(String, DataFrame => DataFrame, Detector)] = Seq(
      ("range", PerSeriesFit.rangeDetect(train, _, spec = spec), RangeDetector()),
      ("diff", PerSeriesFit.diffDetect(train, _, spec = spec), DiffDetector()),
      ("rolling_std", PerSeriesFit.rollingStdDetect(train, _, windowSize = 4, spec = spec),
        RollingStdDevDetector(4)),
      ("gradient", PerSeriesFit.gradientDetect(train, _, spec = spec), GradientDetector()))
    for ((name, perSeries, det) <- fits; n <- parts) {
      val single = seriesDf(loadGolden(n))
      val want = maskOf(det.fit(single.filter(col("ts") < cut)).detect(single))
      val out = perSeries(df)
      val got = maskOf(out.filter(if (n == "walk") col("sid").isNull else col("sid") === n))
      assert(got == want, s"$name on $n")
      if (n == "walk") assert(want.contains(true), s"$name flags nothing on the null-id series")
    }
  }
}
