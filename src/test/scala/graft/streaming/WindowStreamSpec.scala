package graft.streaming

import java.sql.Timestamp
import java.time.Instant
import java.time.temporal.ChronoUnit
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.lit
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import graft.ts.{ConstantGradientDetector, ConstantValueDetector, HampelDetector, RollingStdDevDetector, SeriesSpec, SparkSpecBase}
import StreamingDetectors._

/** The four windowed streams must flag exactly the rows their batch
  * detectors flag, end-of-series flush included, on random series: nulls,
  * NaN, ±0.0, ±∞, tied values, flat runs and ramps; irregular gaps down
  * to a microsecond; 1–3 series, some shorter than the window; windows of
  * 2–6; each case fed as 2–3 micro-batches cut at random, the last ending
  * with the end-of-series markers. All four streams run in one query per
  * case.
  */
class WindowStreamSpec extends SparkSpecBase {

  private val detectors = Seq("hampel", "rolling_std", "constant_value", "constant_gradient")

  private val epochMicros = 1577836800000000L

  private def timestampAt(m: Long): Timestamp =
    Timestamp.from(Instant.EPOCH.plus(m, ChronoUnit.MICROS))

  private val genValue: Gen[java.lang.Double] = Gen.frequency(
    4 -> Gen.choose(-2, 2).map(i => Double.box(i.toDouble)),
    3 -> Gen.choose(-10.0, 10.0).map(Double.box),
    2 -> Gen.oneOf(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity).map(Double.box),
    1 -> Gen.const(null))

  private val genGap: Gen[Long] = Gen.oneOf(1L, 1007L, 1000000L, 1500000L, 2000000L, 60000000L)

  /** (gap before the row in micros, value) blocks: single rows, flat runs,
    * and ramps at a fixed gap (a constant gradient). */
  private val genBlock: Gen[Seq[(Long, java.lang.Double)]] = Gen.frequency(
    3 -> Gen.zip(genGap, genValue).map(Seq(_)),
    1 -> (for (n <- Gen.choose(2, 7); g <- genGap; v <- genValue) yield Seq.fill(n)((g, v))),
    1 -> (for (n <- Gen.choose(2, 7); g <- genGap; v <- Gen.choose(-5, 5); step <- Gen.choose(-2, 2))
      yield (0 until n).map(i => (g, Double.box(v + step * i.toDouble)))))

  private val genSeries: Gen[Seq[(Long, java.lang.Double)]] =
    Gen.choose(1, 8).flatMap(Gen.listOfN(_, genBlock)).map(_.flatten)

  private final case class Case(w: Int, threshold: Double, maxStd: Double, center: Boolean,
      series: Seq[(String, Seq[(Long, java.lang.Double)])], seed: Long, batches: Int)

  private val genCase: Gen[Case] = for {
    w <- Gen.choose(2, 6)
    threshold <- Gen.oneOf(0.5, 1.0, 3.0)
    maxStd <- Gen.oneOf(0.5, 2.0, 5.0)
    center <- Gen.oneOf(true, false)
    n <- Gen.choose(1, 3)
    series <- Gen.listOfN(n, genSeries)
    seed <- Gen.long
    batches <- Gen.choose(2, 3)
  } yield Case(w, threshold, maxStd, center, Seq("a", "b", "c").take(n).zip(series), seed, batches)

  /** Rows in a random interleaving of the series (each in time order),
    * then one end-of-series marker per series, cut into micro-batches. */
  private def events(c: Case): (Seq[Point], Seq[Seq[StreamEvent]]) = {
    val rnd = new scala.util.Random(c.seed)
    val points = c.series.map { case (sid, rows) =>
      rows.scanLeft(epochMicros -> (null: java.lang.Double)) { case ((m, _), (gap, v)) => (m + gap, v) }
        .tail.map { case (m, v) => Point(sid, timestampAt(m), v) }
    }
    val queues = points.map(ps => scala.collection.mutable.Queue(ps: _*))
    val merged = Iterator.continually {
      val open = queues.filter(_.nonEmpty)
      open(rnd.nextInt(open.size)).dequeue()
    }.take(points.map(_.size).sum).toVector
    val eos = points.map(ps => StreamEvent(ps.last.series_id,
      new Timestamp(ps.last.ts.getTime + 3600000L), null, eos = true))
    val all = merged.map(p => StreamEvent(p.series_id, p.ts, p.value, eos = false)) ++ eos
    val cuts = (0 +: Seq.fill(c.batches - 1)(rnd.nextInt(all.size + 1)).sorted :+ all.size)
    (points.flatten, cuts.zip(cuts.tail).map { case (a, b) => rnd.shuffle(all.slice(a, b)) })
  }

  private type Masks = Seq[Map[(String, Timestamp), Boolean]]

  private def batchMasks(c: Case, points: Seq[Point]): Masks = {
    import spark.implicits._
    val spec = SeriesSpec(seriesId = Seq("series_id"))
    val dets = Seq(HampelDetector(c.w, c.threshold), RollingStdDevDetector(c.w, c.maxStd, c.center),
      ConstantValueDetector(c.w), ConstantGradientDetector(c.w))
    val flagged = dets.zip(detectors).foldLeft(points.toDF()) { case (df, (d, name)) =>
      d.detect(df, spec.copy(flag = name))
    }.collect()
    detectors.map(name => flagged.map(r =>
      (r.getAs[String]("series_id"), r.getAs[Timestamp]("ts")) -> r.getAs[Boolean](name)).toMap)
  }

  /** The four streams' masks, and the number of rows each emitted. */
  private def streamMasks(c: Case, batches: Seq[Seq[StreamEvent]]): (Masks, Seq[Int]) = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mems = Seq.fill(detectors.size)(MemoryStream[StreamEvent])
    val streams = Seq(
      hampelStream(mems(0).toDS(), c.w, c.threshold),
      rollingStdStream(mems(1).toDS(), c.w, c.maxStd, c.center),
      constantValueStream(mems(2).toDS(), c.w),
      constantGradientStream(mems(3).toDS(), c.w))
    val name = s"window_streams_${System.nanoTime()}"
    val q = streams.zipWithIndex.map { case (s, i) => s.toDF().withColumn("detector", lit(i)) }
      .reduce(_ union _)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => mems.foreach(_.addData(b)); q.processAllAvailable() }
      val rows = spark.table(name).collect()
      val per = detectors.indices.map(i => rows.filter(_.getAs[Int]("detector") == i))
      (per.map(_.map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(3)).toMap),
        per.map(_.length))
    } finally q.stop()
  }

  test("windowed streams == batch detectors on random series and micro-batch cuts (property)") {
    var tripped = Set.empty[String]
    val prop = Prop.forAllNoShrink(genCase) { c =>
      val (points, batches) = events(c)
      val want = batchMasks(c, points)
      val (got, emitted) = streamMasks(c, batches)
      detectors.indices.foreach(i => if (want(i).values.exists(identity)) tripped += detectors(i))
      val bad = detectors.indices.filter(i => got(i) != want(i) || emitted(i) != points.size)
      bad.isEmpty :| s"$c: ${bad.map(i => detectors(i) -> ((got(i).toSet -- want(i).toSet) ++
        (want(i).toSet -- got(i).toSet))).mkString("; ")}"
    }
    // one shuffle partition: each micro-batch then commits one state store
    // per stream, about 4 s a case on 4 cores
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val res = try SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(9L), prop)
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    assert(res.passed, res.status.toString)
    assert(tripped == detectors.toSet, s"flags set only for $tripped")
  }
}
