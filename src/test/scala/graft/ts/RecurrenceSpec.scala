package graft.ts

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The shared recursion scan ([[Recurrence]]): `detectChunked` against
  * `detect` on random chunk shapes, and null keys. Every detector runs at
  * parameters where each chunk transfer is exact IEEE arithmetic — CUSUM
  * on the 1/64 grid, EWMA at α = 1, Holt at α = 1, β = 0 — so the two
  * evaluations must agree bit for bit, not just within ulps.
  */
class RecurrenceSpec extends SparkSpecBase {

  private val bucketHours = 4
  private val base = 1577836800000L // a multiple of the bucket width

  private val exact: Seq[RecursiveDetector] = Seq(
    CusumDetector(target = 0.25, slack = 0.125, threshold = 2.0),
    EwmaDetector(alpha = 1.0, threshold = 1.5),
    HoltDetector(alpha = 1.0, beta = 0.0, threshold = 1.5))

  private def frame(rows: Seq[(String, Timestamp, java.lang.Double)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (s, t, v) => Row(s, t, v) }, 3),
      StructType(Seq(StructField("sid", StringType), StructField("ts", TimestampType),
        StructField("value", DoubleType))))

  private def hour(h: Long): Timestamp = new Timestamp(base + h * 3600000L)

  private def grid(i: Int): java.lang.Double = i / 64.0

  /** (sid, ts) → flag; the keys must be unique in the frame. */
  private def flags(df: DataFrame, named: Boolean): Map[(String, Timestamp), Boolean] = {
    val rows = df.collect()
    val m = rows.map { r =>
      val sid = if (named) r.getAs[String]("sid") else null
      (sid, r.getAs[Timestamp]("ts")) -> r.getAs[Boolean]("is_anomaly")
    }.toMap
    assert(m.size == rows.length, "keys must be unique")
    m
  }

  test("detectChunked keeps the rows whose series id is null") {
    val rows = (0 until 200).map { i =>
      (if (i % 2 == 0) null else s"s${i % 3}", hour(i), grid((i * 37) % 257 - 128))
    }
    val df = frame(rows)
    val spec = SeriesSpec(seriesId = Seq("sid"))
    for (det <- exact) {
      val want = flags(det.detect(df, spec), named = true)
      val got = flags(det.detectChunked(df, spec, bucketHours * 3600L), named = true)
      assert(want.size == 200 && got == want, det.name)
    }
  }

  test("detectChunked reads a null timestamp as the chunk that sorts first") {
    // every tenth ts null, several per series: the job must not fail
    // and must keep every row
    val many = frame((0 until 200).map { i =>
      (s"s${i % 3}", if (i % 10 == 0) null else hour(i), grid((i * 53) % 301 - 150))
    })
    val spec = SeriesSpec(seriesId = Seq("sid"))
    for (det <- exact)
      assert(det.detectChunked(many, spec, bucketHours * 3600L).count() ==
        det.detect(many, spec).count(), det.name)
    // one null-ts row per series (named and null ids), so the order the
    // scan sees is determined: its flag and the flags after it match
    val one = frame(Seq("a", "b", null).zipWithIndex.flatMap { case (s, j) =>
      (s, null: Timestamp, grid(40 * j - 40)) +:
        (0 until 30).map(i => (s, hour(i * 3), grid((i * 71 + 5 * j) % 257 - 128)))
    })
    for (det <- exact) {
      val want = flags(det.detect(one, spec), named = true)
      assert(flags(det.detectChunked(one, spec, bucketHours * 3600L), named = true) ==
        want, det.name)
    }
  }

  // ---- random chunk shapes ---------------------------------------------

  private val genValue: Gen[java.lang.Double] = Gen.frequency(
    4 -> Gen.choose(-192, 192).map(grid),
    1 -> Gen.const(null))

  /** One block of a series, appended at hour `h`; returns the rows and
    * the next free hour.
    */
  private type Block = Long => Gen[(Seq[(Long, java.lang.Double)], Long)]

  private def nextBucket(h: Long): Long =
    (h + bucketHours - 1) / bucketHours * bucketHours

  private val dense: Block = h => Gen.choose(1, 8).flatMap(n =>
    Gen.listOfN(n, genValue).map(vs =>
      (vs.zipWithIndex.map { case (v, i) => (h + i, v) }, h + n)))

  private val gap: Block = h => for {
    k <- Gen.choose(1, 3)
    r <- Gen.choose(0, bucketHours - 1)
  } yield (Nil, h + k * bucketHours + r)

  // a whole bucket of null values: an all-null chunk
  private val nullChunk: Block = h => {
    val b = nextBucket(h)
    Gen.const(((0 until bucketHours).map(i => (b + i, null: java.lang.Double)),
      b + bucketHours))
  }

  // a bucket holding exactly one row: a one-row chunk
  private val single: Block = h => for {
    r <- Gen.choose(0, bucketHours - 1)
    v <- Gen.choose(-192, 192).map(grid)
  } yield {
    val b = nextBucket(h)
    (Seq((b + r, v)), b + bucketHours)
  }

  private def run(blocks: List[Block], h: Long,
      acc: Vector[(Long, java.lang.Double)]): Gen[Vector[(Long, java.lang.Double)]] =
    blocks match {
      case Nil => Gen.const(acc)
      case b :: rest => b(h).flatMap { case (rows, next) => run(rest, next, acc ++ rows) }
    }

  /** A series starting and ending at random hours inside its chunks,
    * always holding an all-null chunk and a one-row chunk.
    */
  private val genSeries: Gen[Seq[(Long, java.lang.Double)]] = for {
    start <- Gen.choose(0, 3 * bucketHours)
    extra <- Gen.choose(1, 6).flatMap(Gen.listOfN(_,
      Gen.frequency(4 -> dense, 2 -> gap, 1 -> nullChunk, 1 -> single)))
    seed <- Gen.long
    rows <- run(new scala.util.Random(seed).shuffle(nullChunk :: single :: extra) :+ dense,
      start.toLong, Vector.empty)
  } yield rows

  /** 0 series ⇒ one unnamed series; otherwise 1–3 named series, one of
    * which may have a null id.
    */
  private val genFrame: Gen[(Boolean, Seq[(String, Seq[(Long, java.lang.Double)])])] =
    Gen.choose(0, 3).flatMap { n =>
      val names = Gen.pick(math.max(n, 1), Seq("a", "b", "c", null))
      for (ns <- names; ss <- Gen.listOfN(ns.size, genSeries))
        yield (n > 0, ns.toSeq.zip(ss))
    }

  test("detectChunked == detect bit for bit on random chunk shapes (property)") {
    var tripped = Set.empty[String]
    // no shrinking: the default String shrinker fails on the null id
    val prop = Prop.forAllNoShrink(genFrame) { case (named, series) =>
      val df0 = frame(series.flatMap { case (s, rows) =>
        rows.map { case (h, v) => (s, hour(h), v) }
      })
      val df = if (named) df0 else df0.drop("sid")
      val spec = SeriesSpec(seriesId = if (named) Seq("sid") else Nil)
      exact.forall { det =>
        val want = flags(det.detect(df, spec), named)
        if (want.values.exists(identity)) tripped += det.name
        want.size == series.map(_._2.size).sum &&
          flags(det.detectChunked(df, spec, bucketHours * 3600L), named) == want
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(8L), prop)
    assert(res.passed, res.status.toString)
    assert(tripped == exact.map(_.name).toSet, s"flags never set for some detector: $tripped")
  }
}
