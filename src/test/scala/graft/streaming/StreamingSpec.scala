package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ts.{DiffDetector, GradientDetector, HampelDetector, RangeDetector, RollingStdDevDetector, SeriesSpec, SparkSpecBase}
import StreamingDetectors._

/** Streaming detectors must reproduce the batch masks when fed the same
  * series through MemoryStream micro-batches (including a batch split in
  * the middle of a series, which exercises cross-batch state).
  */
class StreamingSpec extends SparkSpecBase {

  def ts(i: Int): Timestamp = Timestamp.valueOf(s"2020-01-01 ${"%02d".format(i)}:00:00")

  val seriesA: Seq[Point] = Seq(
    Point("a", ts(0), 1.0), Point("a", ts(1), 1.5), Point("a", ts(2), 9.0),
    Point("a", ts(3), null), Point("a", ts(4), 9.5), Point("a", ts(5), 2.0))
  val seriesB: Seq[Point] = Seq(
    Point("b", ts(0), 0.0), Point("b", ts(1), 100.0), Point("b", ts(2), 100.2))

  def batchMask(det: graft.ts.Detector, pts: Seq[Point]): Map[(String, Timestamp), Boolean] = {
    import spark.implicits._
    val df = pts.toDF()
    det.detect(df, SeriesSpec(seriesId = Seq("series_id")))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(3)).toMap
  }

  def runStream(pts: Seq[Point], splitAt: Int)(
      mk: org.apache.spark.sql.Dataset[Point] => org.apache.spark.sql.Dataset[FlaggedPoint])
      : Map[(String, Timestamp), Boolean] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Point]
    val q = mk(mem.toDS()).writeStream
      .format("memory").queryName("flags").outputMode("append").start()
    try {
      mem.addData(pts.take(splitAt)); q.processAllAvailable()
      mem.addData(pts.drop(splitAt)); q.processAllAvailable()
      spark.table("flags").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(3)).toMap
    } finally q.stop()
  }

  test("diffStream matches batch DiffDetector across micro-batch boundaries") {
    val pts = seriesA ++ seriesB
    val want = batchMask(DiffDetector(3.0), pts)
    val got = runStream(pts, splitAt = 4)(ds => diffStream(ds, 3.0))
    assert(got == want)
  }

  test("gradientStream matches batch GradientDetector") {
    val pts = seriesA ++ seriesB
    val want = batchMask(GradientDetector(0.001), pts)
    val got = runStream(pts, splitAt = 5)(ds => gradientStream(ds, 0.001))
    assert(got == want)
  }

  def runWindowedStream(pts: Seq[Point], splitAt: Int)(
      mk: org.apache.spark.sql.Dataset[StreamEvent] => org.apache.spark.sql.Dataset[FlaggedPoint])
      : Map[(String, Timestamp), Boolean] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEvent]
    val name = s"wflags_${System.nanoTime()}"
    val q = mk(mem.toDS()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      def ev(p: Point) = StreamEvent(p.series_id, p.ts, p.value, eos = false)
      mem.addData(pts.take(splitAt).map(ev)); q.processAllAvailable()
      mem.addData(pts.drop(splitAt).map(ev)); q.processAllAvailable()
      // end-of-series markers flush the pending tails
      mem.addData(pts.map(_.series_id).distinct.map(s =>
        StreamEvent(s, ts(23), null, eos = true)))
      q.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(3)).toMap
    } finally q.stop()
  }

  test("rollingStdStream matches batch RollingStdDevDetector incl. tail flush") {
    val pts = seriesA ++ seriesB
    val want = batchMask(RollingStdDevDetector(4, 2.0), pts)
    val got = runWindowedStream(pts, splitAt = 3)(ds =>
      rollingStdStream(ds, 4, 2.0))
    assert(got == want)
  }

  test("rollingStdStream matches batch where a window's stddev equals maxStd exactly") {
    // on [8.4, 4.8, 6.4, 1.5] Spark's Welford update and a two-pass
    // mean/variance differ in the last ulp, so a threshold at the batch
    // value separates streams that replay the batch arithmetic from ones
    // that do not
    val window = Seq(8.4, 4.8, 6.4, 1.5)
    val pts = (window ++ Seq(2.0, 7.5)).zipWithIndex.map { case (v, i) => Point("c", ts(i), v) }
    import spark.implicits._
    val frame = org.apache.spark.sql.expressions.Window
      .partitionBy("series_id").orderBy("ts").rowsBetween(-2, 1)
    val maxStd = pts.toDF().select(col("ts"), stddev_samp("value").over(frame))
      .filter(col("ts") === ts(2)).head().getDouble(1)
    val mean = window.sum / window.length
    val twoPass = math.sqrt(window.map(v => (v - mean) * (v - mean)).sum / (window.length - 1))
    assert(twoPass > maxStd, s"two-pass $twoPass vs batch $maxStd: the case lost its teeth")
    val want = batchMask(RollingStdDevDetector(4, maxStd), pts)
    assert(!want(("c", ts(2))))
    val got = runWindowedStream(pts, splitAt = 3)(ds => rollingStdStream(ds, 4, maxStd))
    assert(got == want)
  }

  test("hampelStream matches batch HampelDetector incl. rn tail rule") {
    val pts = (0 until 16).map(i => Point("a", ts(i),
      if (i == 7) 40.0 else if (i == 11) -25.0 else i.toDouble)) ++ seriesB
    val want = batchMask(HampelDetector(3, 1.0), pts)
    val got = runWindowedStream(pts, splitAt = 9)(ds => hampelStream(ds, 3, 1.0))
    assert(got == want)
  }

  test("hampelStream and rollingStdStream read NaN as null, like the batch detectors") {
    // the NaN at row 6 lies in the spike's Hampel window: counted in the
    // median and MAD, it would leave row 8 unflagged
    val pts = (0 until 16).map(i => Point("a", ts(i),
      if (i == 6) Double.NaN else if (i == 8) 12.0 else i.toDouble))
    val want = batchMask(HampelDetector(3, 1.0), pts)
    assert(want(("a", ts(8))))
    assert(runWindowedStream(pts, splitAt = 7)(ds => hampelStream(ds, 3, 1.0)) == want)
    assert(runWindowedStream(pts, splitAt = 7)(ds => rollingStdStream(ds, 4, 2.0)) ==
      batchMask(RollingStdDevDetector(4, 2.0), pts))
  }

  test("ewmaStream matches batch EwmaDetector across micro-batch boundaries") {
    val pts = (0 until 14).map(i => Point("a", ts(i),
      if (i == 6) 80.0 else if (i == 10) null else i.toDouble)) ++ seriesB
    val want = batchMask(graft.ts.EwmaDetector(0.3, 10.0), pts)
    val got = runStream(pts, splitAt = 8)(ds => ewmaStream(ds, 0.3, 10.0))
    assert(got == want)
  }

  test("holtStream matches batch HoltDetector across micro-batch boundaries") {
    // a ramp whose trend state must survive the batch split, plus a
    // spike and a null
    val pts = (0 until 14).map(i => Point("a", ts(i),
      if (i == 9) 200.0 else if (i == 11) null else 10.0 * i)) ++ seriesB
    val want = batchMask(graft.ts.HoltDetector(0.3, 0.3, 50.0), pts)
    val got = runStream(pts, splitAt = 8)(ds => holtStream(ds, 0.3, 0.3, 50.0))
    assert(got == want)
    assert(want.exists(_._2), "expected the spike to flag")
  }

  test("cusumStream matches batch CusumDetector across micro-batch boundaries") {
    // a sustained high run that trips S+ only after accumulating past
    // the split point — the cross-batch state is what's under test
    val pts = (0 until 14).map(i => Point("a", ts(i),
      if (i == 5) null else if (i >= 6) 9.0 else 1.0)) ++ seriesB
    val want = batchMask(graft.ts.CusumDetector(target = 2.0, slack = 1.0,
      threshold = 20.0), pts)
    val got = runStream(pts, splitAt = 8)(ds =>
      cusumStream(ds, target = 2.0, slack = 1.0, threshold = 20.0))
    assert(got == want)
    assert(want.exists(_._2), "expected the drift to trip at least one flag")
  }

  test("constantValueStream matches batch ConstantValueDetector incl. dilation at edges") {
    // flat stretch mid-series, a flat stretch running INTO the series
    // tail (dilation must flag the last row on eos flush), and nulls
    val flat = Seq(
      Point("a", ts(0), 1.0), Point("a", ts(1), 2.0), Point("a", ts(2), 5.0),
      Point("a", ts(3), 5.0), Point("a", ts(4), 5.0), Point("a", ts(5), 5.0),
      Point("a", ts(6), 3.0), Point("a", ts(7), null), Point("a", ts(8), 4.0),
      Point("a", ts(9), 7.0), Point("a", ts(10), 7.0), Point("a", ts(11), 7.0),
      Point("a", ts(12), 7.0)) ++
      Seq(Point("b", ts(0), 9.0), Point("b", ts(1), 9.0), Point("b", ts(2), 9.0),
        Point("b", ts(3), 1.0))
    for (w <- Seq(2, 3, 4); split <- Seq(3, 8)) {
      val want = batchMask(graft.ts.ConstantValueDetector(w, 1e-7), flat)
      val got = runWindowedStream(flat, splitAt = split)(ds =>
        constantValueStream(ds, w, 1e-7))
      assert(got == want, s"w=$w split=$split: " +
        s"diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
    }
  }

  test("constantGradientStream matches batch ConstantGradientDetector") {
    // linear ramp mid-series (constant gradient), plus irregular spacing
    def t2(i: Int, m: Int = 0) = Timestamp.valueOf(f"2020-01-01 $i%02d:$m%02d:00")
    val pts = Seq(
      Point("a", t2(0), 1.0), Point("a", t2(1), 5.0), Point("a", t2(2), 6.0),
      Point("a", t2(3), 7.0), Point("a", t2(4), 8.0), Point("a", t2(5), 9.0),
      Point("a", t2(6), 2.0), Point("a", t2(7), null), Point("a", t2(8), 1.0),
      Point("a", t2(9), 3.0), Point("a", t2(10), 5.0), Point("a", t2(11), 7.0),
      Point("a", t2(12), 9.0)) ++
      Seq(Point("b", t2(0), 0.0), Point("b", t2(1, 30), 3.0),
        Point("b", t2(3), 6.0), Point("b", t2(4, 30), 9.0),
        Point("b", t2(5), 1.0))
    for (w <- Seq(3, 4); split <- Seq(4, 9)) {
      val want = batchMask(graft.ts.ConstantGradientDetector(w), pts)
      val got = runWindowedStream(pts, splitAt = split)(ds =>
        constantGradientStream(ds, w))
      assert(got == want, s"w=$w split=$split: " +
        s"diff=${(got.toSet -- want.toSet) ++ (want.toSet -- got.toSet)}")
    }
  }

  test("watermarked diffStream scores out-of-order arrivals like the in-order batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pts = (0 until 12).map(i => Point("a", ts(i),
      if (i == 5) 50.0 else i.toDouble))
    val want = batchMask(DiffDetector(3.0), pts)
    // deliver shuffled within a 4-hour lateness horizon, across batches
    val scrambled = Seq(
      Seq(pts(1), pts(0), pts(3), pts(2)),
      Seq(pts(6), pts(4), pts(5), pts(8)),
      Seq(pts(7), pts(9), pts(11), pts(10)),
      // advance the watermark far enough to flush everything
      Seq(Point("a", ts(23), null)))
    val mem = MemoryStream[Point]
    val q = WatermarkedDetectors.diffStreamWatermarked(mem.toDS(), 3.0, 4L * 3600)
      .writeStream.format("memory").queryName("wm_flags").outputMode("append").start()
    try {
      scrambled.foreach { b => mem.addData(b); q.processAllAvailable() }
      val got = spark.table("wm_flags").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(3)).toMap
      assert(pts.forall(p => got.get(("a", p.ts)) == want.get(("a", p.ts))),
        s"got=$got want=$want")
    } finally q.stop()
  }

  test("sessionizeStream matches the batch gap-sessionization query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // events with >30min gaps inside two series
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2020-01-01 $h%02d:$m%02d:00")
    val evs = Seq(
      ("u1", t(0, 0)), ("u1", t(0, 10)), ("u1", t(0, 20)),  // session 0 (3 ev)
      ("u1", t(2, 0)), ("u1", t(2, 5)),                      // session 1 (2 ev)
      ("u1", t(5, 0)),                                       // session 2 (1 ev)
      ("u2", t(1, 0)), ("u2", t(1, 29)))                     // session 0 (2 ev)
    val mem = MemoryStream[SessionEvent]
    val q = sessionizeStream(mem.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      val (b1, b2) = evs.map(e => SessionEvent(e._1, e._2, eos = false)).splitAt(4)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      mem.addData(Seq(SessionEvent("u1", t(23, 0), eos = true),
        SessionEvent("u2", t(23, 0), eos = true)))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect()
        .map(s => (s.series_id, s.session_no) -> ((s.n_events, s.duration_sec))).toMap
      assert(got == Map(
        ("u1", 0L) -> ((3L, 1200.0)), ("u1", 1L) -> ((2L, 300.0)),
        ("u1", 2L) -> ((1L, 0.0)), ("u2", 0L) -> ((2L, 1740.0))))
    } finally q.stop()
  }

  test("dedupExactStream keeps first arrival per content hash across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    final case class Doc(doc_id: Long, ts: java.sql.Timestamp, text: String)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val q = StreamingDedup.dedupExactStream(docs, "text", "ts", "2 hours")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, ts(0), "alpha beta"), (2L, ts(0), "gamma"))
      q.processAllAvailable()
      // cross-batch duplicate (same text, later ts) must be dropped
      mem.addData((3L, ts(1), "alpha beta"), (4L, ts(1), "delta"))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 2L, 4L), s"kept=$kept")
    } finally q.stop()
  }

  test("dedupLinesStream matches batch dedupLines across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // cross-doc dup within batch 1; cross-BATCH dup (doc 3 repeats doc
    // 1's shared line); within-doc repeat around a blank line (doc 4);
    // a doc that loses every content line except uniq (doc 5)
    val allDocs = Seq(
      1L -> "keep one\nshared line\nuniq-1",
      2L -> "shared line\nother text",
      3L -> "shared line\nnew stuff",
      4L -> "fresh\n\nfresh\nuniq-4",
      5L -> "shared line\nother text")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingDedup.dedupLinesStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
    val q = out.writeStream.format("memory").queryName("linededup_out")
      .outputMode("append").start()
    try {
      mem.addData(allDocs.take(2): _*); q.processAllAvailable()
      mem.addData(allDocs.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(allDocs.drop(4): _*); q.processAllAvailable()
      val streamed = StreamingDedup.reassembleLines(
        spark.table("linededup_out")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val batch = graft.pipeline.Dedup.dedupLines(
        allDocs.toDF("doc_id", "text"), "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batch, s"streamed=$streamed batch=$batch")
      // and the cross-batch duplicate was actually exercised
      assert(batch(3L) == "new stuff")
      assert(batch(4L) == "fresh\n\nuniq-4")
    } finally q.stop()
  }

  test("nearDupStream flags cross-batch minhash near-dups, skips dissimilar docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i <= 2) s"x$i" else s"w$i").mkString(" ")
    val distinctDoc = (1 to 40).map(i => s"z$i").mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val out = StreamingNearDup.nearDupStream(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      n = 3, k = 32, bands = 8, estThreshold = 0.5)
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, base), (2L, distinctDoc)); q.processAllAvailable()
      mem.addData((3L, nearDup)); q.processAllAvailable()
      val hits = spark.table("neardup_out")
        .select("doc_id", "matched_doc", "est_jaccard").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(hits.exists { case (d, m, e) => d == 3L && m == 1L && e >= 0.5 },
        s"near-dup not flagged: ${hits.toSeq}")
      assert(!hits.exists { case (d, m, _) => m == 2L || d == 2L },
        s"dissimilar doc flagged: ${hits.toSeq}")
    } finally q.stop()
  }

  test("cosineScreenStream over the stored index == batch screen minus batch pairs, any split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val emb = graft.Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val batchV = emb.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("cos_idx_stream").toString
    graft.pipeline.Similarity.saveCosineIndex(corpus, dir,
      tables = 16, planesPerTable = 8, dim = 64)
    // expected: the batch stored-path screen WITHOUT batch-internal pairs
    val expected = graft.pipeline.Similarity.cosineNearDupAgainstIndex(
        emb.filter(col("vec_id") % 2 === 1), dir, 0.35)
      .filter(pmod(col("vec_a"), lit(2)) === 0 || pmod(col("vec_b"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(expected.nonEmpty, "fixture produced no cross-snapshot pairs")
    def run(splits: Seq[Seq[(Long, Seq[Double])]], name: String)
        : Map[(Long, Long), Double] = {
      val mem = MemoryStream[(Long, Seq[Double])]
      val out = StreamingDedup.cosineScreenStream(
        mem.toDF().toDF("vec_id", "embedding"), dir, 0.35)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        splits.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      } finally q.stop()
    }
    val oneBatch = run(Seq(batchV), "cos_screen_1")
    assert(oneBatch == expected,
      s"missing=${expected.keySet -- oneBatch.keySet} extra=${oneBatch.keySet -- expected.keySet}")
    val threeBatches = run(
      Seq(batchV.take(50), batchV.slice(50, 120), batchV.drop(120)),
      "cos_screen_3")
    assert(threeBatches == expected, "split-invariance failed")
  }

  test("hammingScreenStream over the stored index == batch screen minus batch pairs, any split") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val sig = docs.select(col("doc_id"),
      expr("CAST(conv(substr(md5(string(doc_id - doc_id % 3)), 1, 12), 16, 10) AS BIGINT)")
        .bitwiseXOR(when(col("doc_id") % 3 >= 1,
          expr("shiftleft(1L, cast(doc_id % 48 as int))")).otherwise(lit(0L)))
        .as("sig"))
    val corpus = sig.filter(col("doc_id") % 2 === 0)
    val batch = sig.filter(col("doc_id") % 2 === 1)
    val batchRows = batch.as[(Long, Long)].collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("sig_idx_stream").toString
    graft.pipeline.Dedup.saveSignatureIndex(corpus, dir, "doc_id", "sig",
      maxHamming = 4)
    val expected = graft.pipeline.Dedup.hammingAgainstIndex(
        batch, dir, "doc_id", "sig")
      .filter(pmod(col("doc_a"), lit(2)) === 0 || pmod(col("doc_b"), lit(2)) === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(expected.nonEmpty, "fixture produced no cross-snapshot pairs")
    def run(splits: Seq[Seq[(Long, Long)]], name: String)
        : Map[(Long, Long), Long] = {
      val mem = MemoryStream[(Long, Long)]
      val out = StreamingDedup.hammingScreenStream(
        mem.toDF().toDF("doc_id", "sig"), dir)
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        splits.foreach { s => mem.addData(s: _*); q.processAllAvailable() }
        spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      } finally q.stop()
    }
    val oneBatch = run(Seq(batchRows), "ham_screen_1")
    assert(oneBatch == expected,
      s"missing=${expected.keySet -- oneBatch.keySet} extra=${oneBatch.keySet -- expected.keySet}")
    val threeBatches = run(
      Seq(batchRows.take(60), batchRows.slice(60, 150), batchRows.drop(150)),
      "ham_screen_3")
    assert(threeBatches == expected, "split-invariance failed")
  }

  test("asOfStream matches batch AsOf.join backward across micro-batches") {
    import spark.implicits._
    import StreamingAsOf._
    implicit val sqlCtx = spark.sqlContext
    // left events (clicks) and right updates (quotes) on two keys,
    // including an equal-ts tie and a key with no right rows
    def L(k: String, i: Int) = AsOfInput(k, ts(i), isRight = false, null, null)
    def R(k: String, i: Int, id: Long, v: Double) =
      AsOfInput(k, ts(i), isRight = true, id, v)
    val rows = Seq(
      R("a", 0, 1L, 10.0), R("a", 0, 2L, 11.0), // same-ts dup: max id wins
      L("a", 1), R("a", 2, 3L, 12.0), L("a", 2), // tie: inclusive
      L("b", 0),                                  // no right state yet
      R("b", 3, 4L, 20.0), L("b", 5))
    // batch reference on the same data through the batch operator
    val lhs = rows.filter(!_.isRight).map(r => (r.key, r.ts))
      .toDF("key", "ts")
    val rhs = rows.filter(_.isRight)
      .map(r => (r.key, r.ts, r.rid.longValue, r.value.doubleValue))
      .toDF("key", "ts", "rid", "value")
    val want = graft.relational.AsOf.join(lhs, rhs, Seq("key"), "ts",
        rightId = "rid", rightVals = Seq("value"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
        ((Option(r.get(3)), Option(r.get(4))))).toMap
    val mem = MemoryStream[AsOfInput]
    val q = asOfStream(mem.toDS()).writeStream
      .format("memory").queryName("asof_out").outputMode("append").start()
    try {
      mem.addData(rows.take(5)); q.processAllAvailable()
      mem.addData(rows.drop(5)); q.processAllAvailable()
      val got = spark.table("asof_out").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          ((Option(r.get(3)), Option(r.get(4))))).toMap
      assert(got == want, s"stream $got\nbatch $want")
      // and the no-state left row really is an unmatched emit
      assert(got(("b", ts(0))) == ((None, None)))
    } finally q.stop()
  }

  test("interpolateStream matches batch Interpolate.linear incl. maxGap and edges") {
    import spark.implicits._
    import StreamingInterpolate._
    implicit val sqlCtx = spark.sqlContext
    // leading null, interior single + double null runs, trailing null,
    // and a wide (3h) gap that a 2h maxGap must refuse to fill
    def E(k: String, i: Int, v: java.lang.Double) = StreamEvent(k, ts(i), v, eos = false)
    val pts = Seq(
      E("a", 0, null), E("a", 1, 10.0), E("a", 2, null), E("a", 3, 16.0),
      E("a", 4, null), E("a", 5, null), E("a", 6, 22.0), E("a", 7, null),
      E("b", 0, 5.0), E("b", 3, null), E("b", 6, 11.0)) // 3h gap
    val eos = Seq(StreamEvent("a", ts(23), null, eos = true),
      StreamEvent("b", ts(23), null, eos = true))
    val maxGapUs = Some(2L * 3600 * 1000000)
    val batchWant = graft.ts.Interpolate.linear(
        pts.map(p => (p.series_id, p.ts, p.value)).toDF("series_id", "ts", "value"),
        graft.ts.SeriesSpec(seriesId = Seq("series_id")),
        maxGapSeconds = Some(2.0 * 3600))
      .collect().map(r => (r.getString(0), r.getTimestamp(1)) ->
        ((Option(r.get(2)), r.getBoolean(3)))).toMap
    val mem = MemoryStream[StreamEvent]
    val q = interpolateStream(mem.toDS(), maxGapUs).writeStream
      .format("memory").queryName("interp_out").outputMode("append").start()
    try {
      mem.addData(pts.take(5)); q.processAllAvailable()
      mem.addData(pts.drop(5) ++ eos); q.processAllAvailable()
      val got = spark.table("interp_out").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          ((Option(r.get(2)), r.getBoolean(3)))).toMap
      assert(got == batchWant, s"stream $got\nbatch $batchWant")
      // sanity on the interesting rows
      assert(got(("a", ts(2)))._1 == Some(13.0)) // midpoint of 10→16
      assert(got(("b", ts(3)))._1 == None)       // 3h bracket > 2h maxGap
      assert(got(("a", ts(0))) == ((None, false)))
      assert(got(("a", ts(7))) == ((None, false)))
    } finally q.stop()
  }

  test("resampleStream: closed buckets match the batch windowed aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2020-01-01 $h%02d:$m%02d:00")
    // 2 series × 3 hourly buckets, micro-batch split in mid-bucket
    val pts = Seq(
      Point("a", t(0, 5), 1.0), Point("a", t(0, 40), 3.0),
      Point("b", t(0, 30), 10.0), Point("a", t(1, 10), 5.0),
      Point("a", t(2, 0), 7.0), Point("b", t(2, 30), 20.0))
    val mem = MemoryStream[Point]
    val q = StreamingResample.resampleStream(mem.toDF(), "series_id", "ts",
        "value", "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("resamp").outputMode("append").start()
    try {
      mem.addData(pts.take(3)); q.processAllAvailable()
      mem.addData(pts.drop(3)); q.processAllAvailable()
      // a far-future sentinel advances the watermark past every real
      // bucket; its own (still-open) bucket never emits. Two rounds:
      // batch N runs with the watermark computed from batch N-1.
      val sentinel = Point("z", Timestamp.valueOf("2020-01-03 00:00:00"), 0.0)
      mem.addData(sentinel); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      val got = spark.table("resamp").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      val want = pts.toDF()
        .groupBy(col("series_id"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), round(avg("value"), 6).as("avg_value"),
          min("value").as("min_value"), max("value").as("max_value"))
        .collect()
        .map(r => (r.getString(0), r.getStruct(1).getTimestamp(0)) ->
          (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("resampleOhlcStream: open/close deterministic, matches batch struct-min trick") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2020-01-01 $h%02d:$m%02d:00")
    val pts = Seq(
      Point("a", t(0, 5), 3.0), Point("a", t(0, 20), 9.0),
      Point("a", t(0, 55), 1.0), Point("b", t(0, 10), 5.0),
      Point("a", t(1, 30), 4.0))
    val mem = MemoryStream[Point]
    val q = StreamingResample.resampleOhlcStream(mem.toDF(), "series_id", "ts",
        "value", "1 hour", "0 seconds")
      .writeStream.format("memory").queryName("ohlc").outputMode("append").start()
    try {
      mem.addData(pts.take(2)); q.processAllAvailable()
      mem.addData(pts.drop(2)); q.processAllAvailable()
      val sentinel = Point("z", Timestamp.valueOf("2020-01-03 00:00:00"), 0.0)
      mem.addData(sentinel); q.processAllAvailable()
      mem.addData(sentinel); q.processAllAvailable()
      val got = spark.table("ohlc").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) ->
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(got(("a", t(0, 0))) == ((3.0, 9.0, 1.0, 1.0))) // open@05, high, low, close@55
      assert(got(("b", t(0, 0))) == ((5.0, 5.0, 5.0, 5.0)))
      assert(got(("a", t(1, 0))) == ((4.0, 4.0, 4.0, 4.0)))
      assert(!got.keySet.exists(_._1 == "z")) // sentinel bucket stays open
    } finally q.stop()
  }

  test("funnelStream advances match the batch q33 window funnel across batches") {
    import spark.implicits._
    import StreamingFunnel._
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2020-01-01 $h%02d:$m%02d:00")
    val evs = Seq(
      // user 1 completes in order, with noise between stages
      FunnelEvent(1L, t(0, 0), "view"), FunnelEvent(1L, t(0, 10), "error"),
      FunnelEvent(1L, t(0, 20), "click"), FunnelEvent(1L, t(0, 30), "purchase"),
      // user 2 clicks BEFORE viewing: click must not count; later click does
      FunnelEvent(2L, t(0, 0), "click"), FunnelEvent(2L, t(0, 5), "view"),
      FunnelEvent(2L, t(0, 9), "click"),
      // user 3 views only; a second view/purchase-without-click is ignored
      FunnelEvent(3L, t(1, 0), "view"), FunnelEvent(3L, t(1, 1), "view"),
      FunnelEvent(3L, t(1, 2), "purchase"),
      // user 4: completes, then a fresh "view" must NOT restart the funnel
      FunnelEvent(4L, t(2, 0), "view"), FunnelEvent(4L, t(2, 1), "click"),
      FunnelEvent(4L, t(2, 2), "purchase"), FunnelEvent(4L, t(2, 3), "view"))
    val stages = Seq("view", "click", "purchase")
    val mem = MemoryStream[FunnelEvent]
    val q = funnelStream(mem.toDS(), stages).writeStream
      .format("memory").queryName("funnel").outputMode("append").start()
    val got = try {
      mem.addData(evs.take(6)); q.processAllAvailable()
      mem.addData(evs.drop(6)); q.processAllAvailable()
      spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getTimestamp(2)).toMap
    } finally q.stop()
    // batch oracle: the q33 nested-window stage timestamps
    val df = evs.toDF()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
    val batch = df
      .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("t2", min(when(col("event_type") === "click" &&
        col("ts") > col("t1"), col("ts"))).over(w))
      .withColumn("t3", min(when(col("event_type") === "purchase" &&
        col("ts") > col("t2"), col("ts"))).over(w))
      .select("user_id", "t1", "t2", "t3").distinct().collect()
      .flatMap { r =>
        Seq("view" -> r.getTimestamp(1), "click" -> r.getTimestamp(2),
          "purchase" -> r.getTimestamp(3))
          .collect { case (s, ts) if ts != null => (r.getLong(0), s) -> ts }
      }.toMap
    assert(got == batch)
  }

  test("stateless pipeline ops (holdout split, url filter) run unchanged on streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, "clean text"), (2L, "see http://ads.tracker.net/x"),
      (3L, "https://ok.example.org/a"))
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    // the SAME operators, applied to a streaming frame: pure projections
    // and filters — no state, no watermark needed, append mode
    val out = graft.pipeline.Quality.urlFilter(
      graft.pipeline.Sampling.holdoutSplit(streamDocs, "doc_id"),
      "doc_id", "text", Seq("ads.tracker.net"))
    val q = out.writeStream.format("memory").queryName("statelessops")
      .outputMode("append").start()
    val got = try {
      mem.addData(docs.take(2))
      q.processAllAvailable()
      mem.addData(docs.drop(2))
      q.processAllAvailable()
      spark.table("statelessops").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    } finally q.stop()
    val want = graft.pipeline.Quality.urlFilter(
      graft.pipeline.Sampling.holdoutSplit(
        docs.toDF("doc_id", "text"), "doc_id"),
      "doc_id", "text", Seq("ads.tracker.net"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(got == want)
  }

  test("chunkTokens is a stateless projection on a stream (RAG ingest path)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, words(1, 5)), (2L, words(1, 14)), (3L, words(1, 21)))
    val mem = MemoryStream[(Long, String)]
    val out = graft.pipeline.Sampling.chunkTokens(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      size = 8, overlap = 2)
    val q = out.writeStream.format("memory").queryName("chunkstream")
      .outputMode("append").start()
    val got = try {
      mem.addData(docs.take(1)); q.processAllAvailable()
      mem.addData(docs.drop(1)); q.processAllAvailable()
      spark.table("chunkstream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
        .toSet
    } finally q.stop()
    val want = graft.pipeline.Sampling.chunkTokens(
        docs.toDF("doc_id", "text"), "doc_id", "text", 8, 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == want && got.nonEmpty)
  }

  test("weightedSampleStream reservoir == batch E-S selection across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingWeightedSample.{WeightedDoc, esKeyMicro}
    val k = 5
    // two groups; batch 2 deliberately carries the strongest-key doc of
    // g1 (found by recomputing keys) so the reservoir must DISPLACE an
    // earlier selection, plus a zero-weight row that must be ignored
    val all = (1L to 40L).map(i =>
      WeightedDoc(i, if (i % 2 == 0) "g1" else "g2", (i % 7 + 1).toDouble))
    val g1 = all.filter(_.group == "g1")
    val strongest = g1.maxBy(d =>
      (esKeyMicro(d.doc_id, d.weight, "ws"), -d.doc_id)).doc_id
    val batch2 = all.filter(d => d.doc_id == strongest || d.doc_id > 30) :+
      WeightedDoc(999L, "g1", 0.0)
    val batch1 = all.filterNot(d => d.doc_id == strongest || d.doc_id > 30)
    val mem = MemoryStream[WeightedDoc]
    val q = StreamingWeightedSample.weightedSampleStream(mem.toDS(), k)
      .writeStream.format("memory").queryName("wsample")
      .outputMode("update").start()
    val got = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      val rows = spark.table("wsample").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4)))
      val last = rows.groupBy(_._1)
        .map { case (g, rs) => g -> rs.map(_._5).max }
      rows.filter(r => r._5 == last(r._1))
        .map(r => (r._1, r._2, r._4)).toSet // (group, doc_id, rank)
    } finally q.stop()
    val want = graft.pipeline.Sampling.weightedSample(
        all.toDF("doc_id", "group", "weight"), "doc_id", "group",
        "weight", k)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(3)))
      .toSet
    assert(got == want, s"stream=$got batch=$want")
    // the cross-batch displacement actually happened
    assert(got.contains(("g1", strongest, 1L)), s"strongest=$strongest $got")
  }

  test("rangeStream is the stateless batch expression on a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Point]
    val out = rangeStream(mem.toDF(), RangeDetector(0.5, 50.0),
      SeriesSpec(seriesId = Seq("series_id")))
    val q = out.writeStream.format("memory").queryName("range_flags")
      .outputMode("append").start()
    try {
      mem.addData(seriesA ++ seriesB); q.processAllAvailable()
      val got = spark.table("range_flags")
        .filter(col("is_anomaly")).select("value").collect()
        .map(r => Option(r.get(0)).map(_.asInstanceOf[Double])).toSet
      assert(got == Set(Some(100.0), Some(100.2), Some(0.0)))
    } finally q.stop()
  }

  test("lmServeStream over the frozen LM == batch lmScore, across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the cat sat on the mat"), (2L, "the dog sat"),
      (3L, "a rare word zyzzyva"), (4L, ""), // token-less → NULL score
      (5L, "the the the")).toDF("doc_id", "text")
    val expected = graft.pipeline.Quality.lmScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    // freeze the LM exactly as lmScore's internal aggregate builds it
    val counts = corpus
      .select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val (nTotal, vocab) = {
      val r = counts.agg(sum("cnt"), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }
    val mem = MemoryStream[(Long, String)]
    val q = StreamingQuality.lmServeStream(
        mem.toDF().toDF("doc_id", "text"), counts, nTotal, vocab)
      .writeStream.format("memory").queryName("lm_serve")
      .outputMode("append").start()
    try {
      val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(2).toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2).toIndexedSeq: _*); q.processAllAvailable()
      val got = spark.table("lm_serve").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      assert(got == expected, s"streaming $got vs batch $expected")
    } finally q.stop()
  }

  test("langid + quality classifiers serve on streams unchanged (stateless projections)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "the quick brown fox and the lazy dog went to the market"),
      (2L, "der hund und die katze sind nicht mit dem mann im haus"),
      (3L, "click here buy now free casino bonus best cheap offer"))
    val batchDf = rows.toDF("doc_id", "text")
    val expectedLang = graft.pipeline.LangId.classifyFast(batchDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(6)).toMap
    val expectedQ = graft.pipeline.QualityClassifier.classifyFast(batchDf, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    // the SAME plan functions apply to a streaming frame — no serve
    // variant needed; this is the whole point of the stateless shape
    val q1 = graft.pipeline.LangId.classifyFast(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("lang_stream")
      .outputMode("append").start()
    val q2 = graft.pipeline.QualityClassifier.classifyFast(stream, "doc_id", "text")
      .writeStream.format("memory").queryName("q_stream")
      .outputMode("append").start()
    try {
      mem.addData(rows.take(1): _*); q1.processAllAvailable(); q2.processAllAvailable()
      mem.addData(rows.drop(1): _*); q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("lang_stream").collect()
        .map(r => r.getLong(0) -> r.getString(6)).toMap == expectedLang)
      assert(spark.table("q_stream").collect()
        .map(r => r.getLong(0) -> r.getString(3)).toMap == expectedQ)
    } finally { q1.stop(); q2.stop() }
  }

  test("knServeStream over the frozen bigram model == batch knBigramScore; unseen backoff") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "a b a b"), (2L, "b a x"), (3L, "solo"),
      (4L, "")).toDF("doc_id", "text")
    val expected = graft.pipeline.Quality.knBigramScore(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    // freeze the bigram-type model exactly as knBigramScore builds it
    val cb = corpus
      .select(explode(graft.pipeline.Quality.ngrams(
        graft.pipeline.TextOps.tokens(col("text")), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cb"))
    val nTypes = cb.count()
    val mem = MemoryStream[(Long, String)]
    val q = StreamingQuality.knServeStream(
        mem.toDF().toDF("doc_id", "text"), cb, nTypes)
      .writeStream.format("memory").queryName("kn_serve")
      .outputMode("append").start()
    try {
      val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(2).toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2).toIndexedSeq: _*); q.processAllAvailable()
      // held-out doc: seen context + unseen pair (a a) backs off to the
      // continuation term; unseen word (qq) floors at 1/(2·N)
      mem.addData((9L, "a a qq")); q.processAllAvailable()
      val got = spark.table("kn_serve").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
        .toMap
      assert(got.view.filterKeys(_ != 9L).toMap == expected,
        s"streaming $got vs batch $expected")
      // hand-check the backoff doc: P(a|a) = .75·2/3·(1/3) (cb=0, cv=3,
      // n1f=2, Pcont(a)=1/3); P(qq|a) floors via pcont=0 → 1/(2·3)
      val pAA = 0.75 * 2 / 3 * (1.0 / 3)
      val pAQ = 0.5 / 3
      def nllu(p: Double): Long = math.round(-math.log(p) * 1e6)
      val exp9 = BigDecimal((nllu(pAA) + nllu(pAQ)).toDouble / (2 * 1e6))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(9L) == ((2L, Some(exp9))), s"backoff doc: ${got(9L)}")
    } finally q.stop()
  }

  test("bm25ServeStream over frozen stats == batch bm25Scores, across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "spark query engine"),
      (2L, "query " + ("filler padding words here " * 8).trim),
      (3L, ("query " * 5).trim + " spark spark"),
      (4L, "nothing relevant at all"),
      (5L, "")).toDF("doc_id", "text")
    val terms = Seq("query", "spark")
    val expected = graft.pipeline.TfIdf
      .bm25Scores(corpus, "doc_id", "text", terms)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val (idf, avgdl) = graft.pipeline.TfIdf
      .bm25FrozenStats(corpus, "doc_id", "text", terms)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingBm25.bm25ServeStream(
        mem.toDF().toDF("doc_id", "text"), idf, avgdl)
      .writeStream.format("memory").queryName("bm25_serve")
      .outputMode("append").start()
    try {
      val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
      mem.addData(rows.take(2).toIndexedSeq: _*); q.processAllAvailable()
      mem.addData(rows.drop(2).toIndexedSeq: _*); q.processAllAvailable()
      val got = spark.table("bm25_serve").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // no-hit and token-less docs (4, 5) are absent on both sides;
      // scores are integer micro-points so equality is exact
      assert(got == expected, s"streaming $got vs batch $expected")
      // unseen query term at serve time: no crash, scores only the known
      val mem2 = MemoryStream[(Long, String)]
      val q2 = StreamingBm25.bm25ServeStream(
          mem2.toDF().toDF("doc_id", "text"), idf, avgdl)
        .writeStream.format("memory").queryName("bm25_serve2")
        .outputMode("append").start()
      try {
        mem2.addData((9L, "query unseen fresh words"))
        q2.processAllAvailable()
        val fresh = spark.table("bm25_serve2").collect()
        assert(fresh.length == 1 && fresh.head.getLong(0) == 9L &&
          fresh.head.getLong(2) == 4L)
      } finally q2.stop()
    } finally q.stop()
  }

  test("stateless quality filters (Gopher rules, C4 clean) on streams == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // pure projections need no state: the SAME operator call plans on a
    // streaming frame — this pins that neither op smuggles in an
    // aggregate/sort that would break stream support
    val corpus = Seq(
      (1L, ("the cat sat of mat and that have with " * 7).trim),
      (2L, "short one"),
      (3L, "• a\n• b\nGood sentence here.\nto be continued..."),
      (4L, "First line lands well. Second one follows! Third? Fourth. Fifth."))
      .toDF("doc_id", "text")
    val gExpected = graft.pipeline.Quality.gopherRules(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val cExpected = graft.pipeline.Quality.c4Clean(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val memG = MemoryStream[(Long, String)]
    val memC = MemoryStream[(Long, String)]
    val qG = graft.pipeline.Quality.gopherRules(
        memG.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("gopher_stream")
      .outputMode("append").start()
    val qC = graft.pipeline.Quality.c4Clean(
        memC.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("c4_stream")
      .outputMode("append").start()
    try {
      memG.addData(rows.take(2).toIndexedSeq: _*); qG.processAllAvailable()
      memG.addData(rows.drop(2).toIndexedSeq: _*); qG.processAllAvailable()
      memC.addData(rows.take(3).toIndexedSeq: _*); qC.processAllAvailable()
      memC.addData(rows.drop(3).toIndexedSeq: _*); qC.processAllAvailable()
      val gGot = spark.table("gopher_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val cGot = spark.table("c4_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(gGot == gExpected)
      assert(cGot == cExpected)
    } finally { qG.stop(); qC.stop() }
  }

  test("WordPiece segmentation serves on streams unchanged (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the frozen-vocab serve path: a stored vocabulary segments an
    // arriving stream with the SAME codegen expression as batch — the
    // per-token greedy loop carries no cross-row state at all
    val vocab = Seq("stream", "batch", "##ing", "##es", "s", "b", "t",
      "##t", "##r", "##e", "##a", "##m", "##i", "##n", "##g")
    val rows = Seq((1L, "streaming batches"), (2L, "tsream"), (3L, ""))
    val batchDf = rows.toDF("doc_id", "text")
    def plan(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      array_join(flatten(transform(
        graft.pipeline.TextOps.tokens(col("text")),
        w => graft.pipeline.WordPiece.segment(w, vocab))), " ").as("wp"))
    val expected = plan(batchDf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(expected(1L) == "stream ##ing batch ##es", expected(1L))
    val mem = MemoryStream[(Long, String)]
    val q = plan(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("wp_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("wp_stream").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    } finally q.stop()
    assert(got == expected)
  }

  test("exactScreenStream over the stored index == batch corpus stats, bloom identical") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((2L, "alpha body"), (4L, "beta body"), (6L, "alpha body"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("ex_stream").toString
    graft.pipeline.Dedup.saveExactIndex(corpus, "doc_id", "text", dir)
    graft.pipeline.Dedup.buildExactBloom(spark, dir, expectedItems = 100L)
    // batch rows: a corpus dup (alpha ×2 in corpus), a single-hit
    // (beta), and fresh content — split ACROSS micro-batches
    val rows = Seq((11L, "alpha body"), (13L, "fresh one"),
      (15L, "beta body"), (17L, "fresh two"))
    val expected = Map(
      11L -> (2L, Some(2L)), 13L -> (0L, None),
      15L -> (1L, Some(4L)), 17L -> (0L, None))
    for (bloom <- Seq(false, true)) {
      val mem = MemoryStream[(Long, String)]
      val name = s"ex_screen_$bloom"
      val q = StreamingDedup.exactScreenStream(
          mem.toDF().toDF("doc_id", "text"), dir,
          "doc_id", "text", useBloom = bloom)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val got = try {
        mem.addData(rows.take(2): _*); q.processAllAvailable()
        mem.addData(rows.drop(2): _*); q.processAllAvailable()
        spark.table(name).collect().map(r => r.getLong(0) ->
          ((r.getLong(2), if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      } finally q.stop()
      assert(got == expected, s"bloom=$bloom: $got")
    }
    graft.pipeline.CacheLedger.drain()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("cleanCorpusStream == batch cleanCorpusFrontEnd across micro-batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamingSpec.CleanPage
    // the EndToEndIngestSpec v2 fixture shape: id-flanked markers keep
    // docs genuinely distinct; chrome (nav/footer/link farm) must die
    // in extraction; one page per gate + an exact dup SPLIT ACROSS the
    // micro-batch boundary (the cross-batch state under test)
    def body(seed: Int) = (1 to 6).map { k =>
      s"The article m${seed}a$k begins and m${seed}b$k explains that " +
        s"m${seed}c$k readers keep m${seed}d$k context with m${seed}e$k " +
        "every stage done."
    }.mkString(" ")
    def pageHtml(title: String, b: String) =
      s"<html><head><title>$title</title></head><body>" +
        "<nav><a href=/a>Home</a> <a href=/b>About</a></nav>" +
        s"<p>$b</p>" +
        "<footer>Copyright 2024 Site Inc <a href=/tos>Terms</a></footer>" +
        "</body></html>"
    val rows = Seq(
      1L -> pageHtml("One", body(1)),
      2L -> pageHtml("Two", body(2)),
      3L -> pageHtml("Bad", body(3) + " That page also says badword plainly."),
      4L -> pageHtml("Pii", body(4) +
        " Write to jane.doe@example.com or charge card 4111111111111111 today."),
      5L -> pageHtml("Stub", "Too short to keep, sadly so."),
      6L -> pageHtml("One", body(1))) // exact dup of 1 — later batch
      .map { case (id, h) => CleanPage(id, ts(id.toInt), h) }
    val mem = MemoryStream[CleanPage]
    val out = StreamingCleanCorpus.cleanCorpusStream(mem.toDF(),
      "doc_id", "ts", "html", blocklist = Seq("badword"),
      watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("clean_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(3): _*); q.processAllAvailable()
      mem.addData(rows.drop(3): _*); q.processAllAvailable()
      spark.table("clean_stream").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    } finally q.stop()
    // the batch reference: ids arrive in id order, so streaming
    // first-arrival == batch min-id for the duplicate pair
    val want = graft.pipeline.Dedup.cleanCorpusFrontEnd(
        rows.toDF().select(col("doc_id"), col("html")),
        "doc_id", "html", blocklist = Seq("badword"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == want, s"stream=${got.keySet} batch=${want.keySet}")
    assert(want.keySet == Set(1L, 2L, 4L),
      s"fixture must exercise every gate: ${want.keySet}")
    // the PII page survived SCRUBBED, chrome never reached the corpus
    assert(got(4L).contains("[EMAIL]") && got(4L).contains("[CARD]") &&
      !got(4L).contains("jane.doe@example.com"), got(4L))
    assert(got.values.forall(t => !t.contains("Copyright")), got)
    graft.pipeline.CacheLedger.drain()
  }

  test("priorityScreenStream over the stored index == batch, incl. a folded snapshot") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpusA = Seq((2L, "shared", 2L), (4L, "corpus only", 1L))
      .toDF("doc_id", "text", "priority")
    val corpusB = Seq((8L, "late better", 2L)).toDF("doc_id", "text", "priority")
    val dir = java.nio.file.Files.createTempDirectory("prio_stream_").toString
    graft.pipeline.Dedup.savePriorityIndex(corpusA, "doc_id", "text",
      "priority", 3L, dir)
    graft.pipeline.Dedup.mergeIntoPriorityIndex(corpusB, dir, "doc_id",
      "text", "priority")
    val rows = Seq(
      (11L, "shared", 0L),      // outranks the stored prio-2 copy
      (13L, "corpus only", 3L), // stored prio-1 copy holds
      (15L, "brand new", 2L),   // unseen -> frontier admit
      (17L, "late better", 1L)) // outranks the FOLDED snapshot's copy
    val batchDf = rows.toDF("doc_id", "text", "priority")
    def out(df: org.apache.spark.sql.DataFrame) =
      graft.streaming.StreamingDedup.priorityScreenStream(
        df, dir, "doc_id", "text", "priority")
    val expected = out(batchDf).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(expected(11L).last == true && expected(13L).last == false &&
      expected(15L).last == true && expected(17L).last == true)
    val mem = MemoryStream[(Long, String, Long)]
    val q = out(mem.toDF().toDF("doc_id", "text", "priority"))
      .writeStream.format("memory").queryName("prio_screen_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("prio_screen_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    } finally q.stop()
    assert(got == expected)
  }

  test("priorityScreenStream against a DELETED index: unknown winners never lose to the stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq((2L, "shared", 2L), (3L, "shared", 1L),
      (4L, "corpus only", 1L)).toDF("doc_id", "text", "priority")
    val dir = java.nio.file.Files.createTempDirectory("prio_del_stream_").toString
    graft.pipeline.Dedup.savePriorityIndex(corpus, "doc_id", "text",
      "priority", 3L, s"$dir/idx")
    // take down the shared key's WINNER (3): one retained copy stays,
    // its trust tier folded away
    graft.pipeline.Dedup.deleteFromPriorityIndex(
      corpus.filter(col("doc_id") === 3L),
      s"$dir/idx", s"$dir/idx2", "doc_id", "text", "priority")
    val rows = Seq(
      (11L, "shared", 0L),      // higher trust than ANY stored copy —
                                // but the winner is unknown: false
      (13L, "corpus only", 0L), // known winner (prio 1) loses: true
      (15L, "brand new", 2L))   // unseen -> frontier admit: true
    val mem = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.StreamingDedup.priorityScreenStream(
        mem.toDF().toDF("doc_id", "text", "priority"),
        s"$dir/idx2", "doc_id", "text", "priority")
      .writeStream.format("memory").queryName("prio_del_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows: _*); q.processAllAvailable()
      spark.table("prio_del_stream").collect()
        .map(r => r.getLong(0) -> ((r.isNullAt(2), r.getLong(4),
          r.getBoolean(5)))).toMap
    } finally q.stop()
    // the unknown-winner key: NULL decoded winner, count 1, beats FALSE
    assert(got(11L) == ((true, 1L, false)), got(11L).toString)
    assert(got(13L) == ((false, 1L, true)), got(13L).toString)
    assert(got(15L) == ((true, 0L, true)), got(15L).toString)
  }

  test("winnowScreenStream over the stored winnow index == batch screen across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val snippet = "winnow block nine alpha beta gamma delta epsilon " +
      "zeta eta theta iota kappa nine"
    val corpus = Seq(
      (2L, "corpus page with its own words and then " + snippet),
      (4L, "another page holding nothing shared at all beyond itself " +
        "plain prose sentences continue onward here"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("winnow_stream_").toString
    graft.pipeline.Dedup.saveWinnowIndex(corpus, "doc_id", "text",
      s"$dir/idx")
    // doc 11 re-carries the snippet REFORMATTED (tabs + newlines) —
    // must hit corpus doc 2 through the stored postings; doc 13 is
    // fresh; doc 15 is the sub-floor short-text case
    val rows = Seq(
      (11L, "totally new framing text\n" +
        snippet.split(" ").mkString("\t")),
      (13L, "fresh prose with no shared block in sight just original " +
        "sentences rolling along"),
      (15L, "too short"))
    val expected = graft.pipeline.Dedup.winnowAgainstIndex(
        rows.toDF("doc_id", "text"), s"$dir/idx", "doc_id", "text",
        minShared = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected.exists(h => h._1 == 11L && h._2 == 2L),
      s"fixture must hit: $expected")
    assert(!expected.exists(h => h._1 == 13L || h._1 == 15L), expected)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.winnowScreenStream(
        mem.toDF().toDF("doc_id", "text"), s"$dir/idx", "doc_id", "text",
        minShared = 4)
      .writeStream.format("memory").queryName("winnow_screen_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(1): _*); q.processAllAvailable()
      mem.addData(rows.drop(1): _*); q.processAllAvailable()
      spark.table("winnow_screen_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally q.stop()
    assert(got == expected, s"stream=$got batch=$expected")
    graft.pipeline.CacheLedger.drain()
  }

  test("editDistScreenStream over the stored title index == batch screen across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (2L, "open the pod bay doors"),
      (4L, "a wholly unrelated title"))
      .toDF("doc_id", "title")
    val dir = java.nio.file.Files.createTempDirectory("editdist_stream_").toString
    graft.pipeline.Dedup.saveEditDistIndex(corpus, "doc_id", "title",
      s"$dir/idx")
    val rows = Seq(
      (11L, "open the pod bay door"),   // one deletion from doc 2
      (13L, "opun the pod bay doors"),  // one substitution from doc 2
      (15L, "nothing like the corpus"), // fresh
      (17L, "open the pod bay doors"))  // exact copy (distance 0)
    val expected = graft.pipeline.Dedup.editDistanceAgainstIndex(
        rows.toDF("doc_id", "title"), s"$dir/idx", "doc_id", "title")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(expected == Set((11L, 2L, 1L), (13L, 2L, 1L), (17L, 2L, 0L)),
      expected)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.editDistScreenStream(
        mem.toDF().toDF("doc_id", "title"), s"$dir/idx", "doc_id", "title")
      .writeStream.format("memory").queryName("editdist_screen_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("editdist_screen_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    } finally q.stop()
    assert(got == expected, s"stream=$got batch=$expected")
    // the row-local variant hashes are the expression form's values
    val exprSide = graft.pipeline.Dedup.editDistancePairs(
      Seq((1L, "open the pod bay doors"), (2L, "open the pod bay door"))
        .toDF("doc_id", "title"), "doc_id", "title")
      .collect()
    assert(exprSide.length == 1 && exprSide(0).getLong(2) == 1L)
    graft.pipeline.CacheLedger.drain()
  }

  test("chunkScreenStream over the stored chunk index == batch screen across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val tail = "the archivist noted that the flood plates of eighteen " +
      "ninety draw the most requests followed by the quarry surveys " +
      "and the mill ledgers and the county atlases on display"
    val corpusA = Seq((2L, "first corpus document body with its own words " + tail))
      .toDF("doc_id", "text")
    val corpusB = Seq((4L, "a different snapshot opening passage " + tail))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("chunk_stream_").toString
    graft.pipeline.Dedup.saveChunkIndex(corpusA, "doc_id", "text", dir)
    graft.pipeline.Dedup.mergeIntoChunkIndex(corpusB, dir, "doc_id", "text")
    // no fresh chunk is shared BETWEEN batch docs (the serving
    // contract), so stream == batch screen exactly; doc 19 is the
    // chunk-less zeros-row case
    val rows = Seq(
      (11L, "completely fresh prose holding no shared region at all " +
        "just singular sentences about turbine cooperatives on the ridge"),
      (13L, "much longer and structurally distinct batch prefix " + tail),
      (19L, ""))
    val expected = graft.pipeline.Dedup.chunksAgainstIndex(
        rows.toDF("doc_id", "text"), dir, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(expected(13L)._3 >= 1L, s"shifted tail must dup: $expected")
    assert(expected(11L)._3 == 0L && expected(19L)._1 == 0L)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.chunkScreenStream(
        mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text")
      .writeStream.format("memory").queryName("chunk_screen_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(1): _*); q.processAllAvailable()
      mem.addData(rows.drop(1): _*); q.processAllAvailable()
      spark.table("chunk_screen_stream").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    } finally q.stop()
    assert(got == expected, s"stream=$got batch=$expected")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.pipeline.CacheLedger.drain()
  }

  test("containmentScreenStream == batch screen's batch-inside-corpus direction across splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val corpusA = Seq((2L, words(1, 60))).toDF("doc_id", "text")
    val corpusB = Seq((4L, words(100, 160))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("sh_stream_").toString
    graft.pipeline.Dedup.saveShingleIndex(corpusA, "doc_id", "text", 3, dir)
    graft.pipeline.Dedup.mergeIntoShingleIndex(corpusB, dir, "doc_id", "text")
    val rows = Seq(
      (11L, words(10, 29)),   // excerpt of doc 2 -> containment 1.0
      (13L, words(120, 139)), // excerpt of the FOLDED doc 4 -> 1.0
      (15L, "totally fresh words " + words(900, 940)))
    val expected = graft.pipeline.Dedup.containmentAgainstIndex(
        rows.toDF("doc_id", "text"), dir, "doc_id", "text", 0.8)
      .filter(col("doc_inner").isin(11L, 13L, 15L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(expected((11L, 2L)) == ((18L, 1.0)) &&
      expected((13L, 4L)) == ((18L, 1.0)) && expected.size == 2)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.containmentScreenStream(
        mem.toDF().toDF("doc_id", "text"), dir, "doc_id", "text", 0.8)
      .writeStream.format("memory").queryName("containment_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(1): _*); q.processAllAvailable()
      mem.addData(rows.drop(1): _*); q.processAllAvailable()
      spark.table("containment_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3)))).toMap
    } finally q.stop()
    assert(got == expected, s"stream=$got batch=$expected")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    graft.pipeline.CacheLedger.drain()
  }

  test("hostCap on a stream (complete mode) == batch — TopKLongs folds in the state store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME TypedImperativeAggregate serves batch and stream: its
    // serialize/merge are what the state store folds across
    // micro-batches — batch 2 delivers a score that must DISPLACE a
    // batch-1 top entry inside persisted heap state
    val batch1 = Seq(("a", 1L, 100L), ("a", 2L, 90L), ("a", 3L, 80L),
      ("b", 10L, 5L))
    val batch2 = Seq(("a", 4L, 95L), ("b", 11L, 7L), ("b", 12L, 3L))
    val all = (batch1 ++ batch2).toDF("host", "doc_id", "score")
    val expected = graft.pipeline.Sampling.hostCap(all, "doc_id", "host",
        "score", n = 2, maxScore = 999L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    // sanity: doc 4 (95) displaced doc 2 (90) from host a's top-2
    assert(expected == Set(("a", 1L, 100L, 1L), ("a", 4L, 95L, 2L),
      ("b", 11L, 7L, 1L), ("b", 10L, 5L, 2L)))
    val mem = MemoryStream[(String, Long, Long)]
    val q = graft.pipeline.Sampling.hostCap(
        mem.toDF().toDF("host", "doc_id", "score"),
        "doc_id", "host", "score", n = 2, maxScore = 999L)
      .writeStream.format("memory").queryName("hostcap_stream")
      .outputMode("complete").start()
    val got = try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
      spark.table("hostcap_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    } finally q.stop()
    assert(got == expected)
  }

  test("codeGate and renderChatML serve on streams unchanged (stateless projections)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // both ops are single codegen projections — planning them on a
    // streaming frame pins that neither smuggles in an agg or sort
    val rows = Seq(
      (1L, "import os\n\ndef f():\n    return 1;\n"),
      (2L, "plain prose about rivers and ledgers."),
      (3L, ""))
    val corpus = rows.toDF("doc_id", "text")
    def chatPlan(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      graft.pipeline.TextOps.renderChatML(array(
        struct(lit("user").as("role"), col("text").as("content")),
        struct(lit("assistant").as("role"),
          substring(col("text"), 1, 5).as("content")))).as("r"))
      .select(col("doc_id"), col("r.rendered"), col("r.assistant_spans"))
    val gExpected = graft.pipeline.Quality.codeGate(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val cExpected = chatPlan(corpus)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val memG = MemoryStream[(Long, String)]
    val memC = MemoryStream[(Long, String)]
    val qG = graft.pipeline.Quality.codeGate(
        memG.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("code_gate_stream")
      .outputMode("append").start()
    val qC = chatPlan(memC.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("chat_render_stream")
      .outputMode("append").start()
    try {
      memG.addData(rows.take(2): _*); qG.processAllAvailable()
      memG.addData(rows.drop(2): _*); qG.processAllAvailable()
      memC.addData(rows.take(1): _*); qC.processAllAvailable()
      memC.addData(rows.drop(1): _*); qC.processAllAvailable()
      val gGot = spark.table("code_gate_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      val cGot = spark.table("chat_render_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
      assert(gGot == gExpected)
      assert(cGot == cExpected)
    } finally { qG.stop(); qC.stop() }
  }

  test("licenseGate serves on streams unchanged (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, "// SPDX-License-Identifier: MIT\nint main() {}"),
      (2L, "The MIT license is discussed in classrooms."),
      (3L, "This program is free software under the GNU General Public License."),
      (4L, ""))
    val corpus = rows.toDF("doc_id", "text")
    val expected = graft.pipeline.Quality.licenseGate(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = graft.pipeline.Quality.licenseGate(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.format("memory").queryName("license_gate_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("license_gate_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    } finally q.stop()
    assert(got == expected)
    assert(got(1L).last == true && got(3L).last == false)
  }

  test("robotsVerdict screens an ingest stream unchanged (stateless projection)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rules = Seq(
      ("a.org", "/private", false), ("a.org", "/private/ok", true),
      ("b.org", "/", false))
    val rows = Seq(
      (1L, "https://a.org/private/page"), // disallowed
      (2L, "https://a.org/private/ok/page"), // longest match re-allows
      (3L, "https://b.org/x"), // root disallow
      (4L, "https://c.org/x")) // unlisted host
    val expected = graft.pipeline.UrlOps.robotsVerdict(
        rows.toDF("doc_id", "url"), "doc_id", "url", rules)
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val mem = MemoryStream[(Long, String)]
    val q = graft.pipeline.UrlOps.robotsVerdict(
        mem.toDF().toDF("doc_id", "url"), "doc_id", "url", rules)
      .writeStream.format("memory").queryName("robots_stream")
      .outputMode("append").start()
    val got = try {
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.drop(2): _*); q.processAllAvailable()
      spark.table("robots_stream").collect()
        .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    } finally q.stop()
    assert(got == expected)
    assert(got(1L).last == false && got(2L).last == true &&
      got(3L).last == false && got(4L).last == true)
  }
}

object StreamingSpec {
  // top-level so spark.implicits derives an Encoder (a method-local
  // case class has no stable type tag for the product encoder)
  final case class CleanPage(doc_id: Long, ts: Timestamp, html: String)
}
