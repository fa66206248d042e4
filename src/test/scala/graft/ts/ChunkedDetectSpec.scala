package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ChunkedDetect must reproduce the unchunked masks BIT-IDENTICALLY for
  * every row-bounded detector, across chunk-boundary frames, positional
  * edge rules, thin head/tail chunks, and series that fail validation
  * (thin interior chunks, gaps) and stay unchunked. These run above the
  * small-input bound ([[SparkSpecBase.aboveSmallBound]]): a smaller
  * frame skips chunking altogether, as the last test pins.
  */
class ChunkedDetectSpec extends SparkSpecBase {

  // the golden fixtures cover nulls, spikes, constant and linear
  // stretches, irregular cadence (gaps from 60 s to 2 h) — chunk those
  // at several widths so boundaries land everywhere
  lazy val golden: Map[String, GoldenSeries] =
    Seq("walk", "irregular", "const_abnormal", "quant_train")
      .map(n => n -> loadGolden(n)).toMap

  def dets: Map[String, Detector] = Map(
    "range" -> RangeDetector(0, 2),
    "diff" -> DiffDetector(0.5),
    "grad" -> GradientDetector(1e-4),
    "rollstd_w4" -> RollingStdDevDetector(4, 0.5),
    "rollstd_w5_right" -> RollingStdDevDetector(5, 0.5, center = false),
    "const_w3" -> ConstantValueDetector(3, 1e-4),
    "cgrad_w3" -> ConstantGradientDetector(3),
    "hampel_w5" -> HampelDetector(5, 3),
    "combined" -> CombinedDetector(Seq(
      ConstantValueDetector(), RangeDetector(maxValue = 2.0), HampelDetector(5, 3))))

  testAboveSmallBound("chunked masks are bit-identical to unchunked on every golden series") {
    val spec = SeriesSpec()
    for ((sName, g) <- golden; bucketHours <- Seq(3, 24, 500)) {
      val df = seriesDf(g).cache()
      for ((dName, det) <- dets) {
        val want = maskOf(det.detect(df, spec))
        val got = maskOf(ChunkedDetect.detect(det, df, spec, bucketHours * 3600L))
        assert(got == want,
          s"$dName on $sName (bucket ${bucketHours}h): chunked mask diverged")
      }
      df.unpersist()
    }
  }

  testAboveSmallBound("multi-series chunked run matches per-series unchunked masks") {
    val spec = SeriesSpec(seriesId = Seq("sid"))
    val stacked = stackedDf(Seq(golden("walk"), golden("irregular"))).cache()
    for ((dName, det) <- Seq("hampel_w5", "cgrad_w3", "diff").map(n => n -> dets(n))) {
      val out = ChunkedDetect.detect(det, stacked, spec, 6 * 3600L)
      for (sName <- Seq("walk", "irregular")) {
        val got = maskOf(out.filter(col("sid") === sName))
        val want = maskOf(det.detect(stacked.filter(col("sid") === sName), spec))
        assert(got == want, s"$dName on $sName via chunked stacked run")
      }
    }
    stacked.unpersist()
  }

  testAboveSmallBound("thin interior chunks trigger the exact fallback (gap-heavy series)") {
    // 40 hourly rows, then a 10-day gap, then ONE row, another gap, 40
    // more: with a 6h bucket the lone row is a thin interior chunk for
    // hampel_w5 (m=5) — the series must stay unchunked and still be exact
    import spark.implicits._
    val rows =
      (0 until 40).map(i => (java.sql.Timestamp.valueOf(f"2020-01-01 ${i / 4}%02d:${15 * (i % 4)}%02d:00"), math.sin(i) * 3)) ++
        Seq((java.sql.Timestamp.valueOf("2020-01-12 00:00:00"), 42.0)) ++
        (0 until 40).map(i => (java.sql.Timestamp.valueOf(f"2020-01-24 ${i / 4}%02d:${15 * (i % 4)}%02d:00"), math.cos(i) * 3))
    val df = rows.toDF("ts", "value")
    val spec = SeriesSpec()
    for ((dName, det) <- dets) {
      val want = maskOf(det.detect(df, spec))
      val got = maskOf(ChunkedDetect.detect(det, df, spec, 6 * 3600L))
      assert(got == want, s"$dName with thin interior chunk diverged")
    }
  }

  testAboveSmallBound("minRowsToChunk splits hot from cold; masks identical either way") {
    val spec = SeriesSpec(seriesId = Seq("sid"))
    val stacked = stackedDf(Seq(golden("walk"), golden("quant_train"))).cache()
    for ((dName, det) <- Seq("hampel_w5", "diff").map(n => n -> dets(n))) {
      val want = Seq("walk", "quant_train").map(s =>
        s -> maskOf(det.detect(stacked.filter(col("sid") === s), spec))).toMap
      // threshold between the series sizes (walk 120, quant_train 1000):
      // quant_train is chunked, walk takes the plain window — one job
      val out = ChunkedDetect.detect(det, stacked, spec,
        bucketSeconds = 24 * 3600L, marginSeconds = 12 * 3600L,
        minRowsToChunk = 500L)
      for (s <- Seq("walk", "quant_train"))
        assert(maskOf(out.filter(col("sid") === s)) == want(s),
          s"$dName on $s via hot/cold split")
      // threshold above every series: pure pass-through to det.detect
      val none = ChunkedDetect.detect(det, stacked, spec,
        bucketSeconds = 24 * 3600L, minRowsToChunk = 1000000L)
      for (s <- Seq("walk", "quant_train"))
        assert(maskOf(none.filter(col("sid") === s)) == want(s))
    }
    stacked.unpersist()
  }

  testAboveSmallBound("one call mixes chunked hot, gap-failing hot and cold series") {
    // quant_train (1000 hourly rows) is hot and chunkable; its copy with
    // a 30-day gap after row 500 is just as hot but breaks the bucket
    // relay; walk and irregular (120 rows each) are cold. The gap series
    // must take the plain window inside the same job — no fallback union
    val quant = golden("quant_train")
    val gap = 30L * 86400000L
    val gappy = GoldenSeries("gappy", quant.rows.zipWithIndex.map {
      case ((ts, v, m), i) =>
        (if (i < 500) ts else new java.sql.Timestamp(ts.getTime + gap), v, m)
    })
    val names = Seq("quant_train", "gappy", "walk", "irregular")
    val spec = SeriesSpec(seriesId = Seq("sid"))
    val stacked = stackedDf(Seq(quant, gappy, golden("walk"), golden("irregular"))).cache()
    for (dName <- Seq("hampel_w5", "combined")) {
      val det = dets(dName)
      val out = ChunkedDetect.detect(det, stacked, spec,
        bucketSeconds = 24 * 3600L, marginSeconds = 12 * 3600L,
        minRowsToChunk = 500L)
      for (s <- names)
        assert(maskOf(out.filter(col("sid") === s)) ==
          maskOf(det.detect(stacked.filter(col("sid") === s), spec)),
          s"$dName on $s via the mixed chunked run")
      val plan = out.queryExecution.executedPlan.toString
      assert(!plan.contains("Union"), s"fallback union in the plan:\n$plan")
      val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.size == 1 &&
        exchanges.head.matches(".*hashpartitioning\\(sid#\\d+, __chunk#\\d+L?, \\d+\\).*"),
        s"want one window exchange keyed on (sid, __chunk):\n${exchanges.mkString("\n")}")
    }
    stacked.unpersist()
  }

  testAboveSmallBound("unbounded-context detectors (EWMA) pass through unchunked") {
    assert(EwmaDetector(0.3, 3.0).contextRows == -1)
    val g = golden("walk")
    val df = seriesDf(g)
    val spec = SeriesSpec()
    val want = maskOf(EwmaDetector(0.3, 3.0).detect(df, spec))
    val got = maskOf(ChunkedDetect.detect(EwmaDetector(0.3, 3.0), df, spec, 3600L))
    assert(got == want)
  }

  testAboveSmallBound("chunked plan partitions windows by (series, chunk), not by series alone") {
    val stacked = stackedDf(Seq(golden("walk"), golden("quant_train")))
    // hourly series, 24h buckets, 12h margins: validation passes for
    // m=5, so both series are chunked
    val out = ChunkedDetect.detect(HampelDetector(5, 3), stacked,
      SeriesSpec(seriesId = Seq("sid")), 24 * 3600L, 12 * 3600L)
    val plan = out.queryExecution.executedPlan.toString
    // the detector's window must carry the chunk key — that's the whole
    // skew mitigation; a plan windowing on sid alone regressed to the
    // hot-series straggler
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition(sid")).toSeq
    assert(windowLines.nonEmpty)
    assert(windowLines.forall(_.contains("__chunk")),
      s"detector window lost the chunk key:\n${windowLines.mkString("\n")}")
  }

  test("a small frame is not chunked: the plan is the one-partition window") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val stacked = stackedDf(Seq(golden("walk"), golden("quant_train"))).cache()
    stacked.count()
    try {
      assert(TsOps.small(stacked))
      val spec = SeriesSpec(seriesId = Seq("sid"))
      val out = ChunkedDetect.detect(HampelDetector(5, 3), stacked, spec,
        24 * 3600L, 12 * 3600L)
      val plan = out.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.collect { case e: Exchange => e }.isEmpty && !plan.toString.contains("__chunk"),
        s"want the unchunked window with no exchange:\n$plan")
      for (s <- Seq("walk", "quant_train"))
        assert(maskOf(out.filter(col("sid") === s)) ==
          maskOf(HampelDetector(5, 3).detect(stacked.filter(col("sid") === s), spec)), s)
    } finally stacked.unpersist()
  }
}
