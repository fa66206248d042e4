package graft.functions

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ts.SparkSpecBase

/** The tail-of-frame aggregates over growing frames must reproduce the
  * sliding-frame aggregates they replace bit for bit: `TailHampel(v, 2·ws)`
  * over the frame ending ws-1 rows ahead, and `lead(TailHampel(v, 2·ws),
  * ws-1)`, = `HampelStats` over `[t-ws, t+ws-1]` (while ws-1 rows follow
  * t), and `TailStd` = the guarded `stddev_samp`, centered and trailing.
  * Values include nulls, NaN, ±∞, ±0.0, overflowing pairs and duplicates;
  * series run shorter and longer than 2·ws.
  */
class TailWindowSpec extends SparkSpecBase {

  private val windows = Seq(1, 2, 3, 5, 64)

  private val genValue: Gen[Option[Double]] = Gen.frequency(
    3 -> Gen.choose(-3, 3).map(i => Some(i.toDouble)),
    3 -> Gen.choose(-10.0, 10.0).map(Some(_)),
    2 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, 1e308, -1e308, Double.MinPositiveValue).map(Some(_)),
    1 -> Gen.const(None))

  private val genSeries: Gen[List[Option[Double]]] =
    Gen.oneOf(Gen.choose(0, 12), Gen.choose(100, 200))
      .flatMap(n => Gen.listOfN(n, genValue))

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  private def sameDouble(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) => bits(x) == bits(y)
    case _ => false
  }

  private def sameStats(a: Row, b: Row): Boolean =
    if (a == null || b == null) a == null && b == null
    else sameDouble(a.get(0), b.get(0)) && sameDouble(a.get(1), b.get(1))

  /** Every mismatch between the tail and sliding forms over one frame,
    * `series` keyed by id ("" = one unnamed series). */
  private def mismatches(series: Seq[(String, List[Option[Double]])]): Seq[String] = {
    val unnamed = series.map(_._1) == Seq("")
    val rows = series.flatMap { case (sid, vs) =>
      vs.zipWithIndex.map { case (v, i) => Row(sid, i.toLong, v.map(Double.box).orNull) }
    }
    val schema = StructType(Seq(StructField("sid", StringType),
      StructField("ts", LongType), StructField("value", DoubleType)))
    val df0 = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val df = if (unnamed) df0.drop("sid") else df0
    val w: WindowSpec =
      (if (unnamed) Window.partitionBy() else Window.partitionBy("sid")).orderBy("ts")
    val v = col("value")
    val rn = row_number().over(w)
    val cnt = count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    def growing(ahead: Int) = w.rowsBetween(Window.unboundedPreceding, ahead.toLong)
    def guardedStd(lo: Int, hi: Int, ws: Int): Column = {
      val f = w.rowsBetween(lo.toLong, hi.toLong)
      when(count(v).over(f) === ws, stddev_samp(v).over(f))
    }
    // per ws: the sliding reference, then the tail forms — over the frame
    // ending ahead (the detectors' form) and, for Hampel, as a lead
    val staged = df.select(Seq(col("*"), rn.as("rn"), cnt.as("cnt")) ++
      windows.flatMap { ws =>
        val ahead = (ws - 1) / 2
        Seq(
          HampelStats(v).over(w.rowsBetween(-ws.toLong, (ws - 1).toLong)).as(s"hs$ws"),
          TailHampel(v, 2 * ws).over(growing(ws - 1)).as(s"th$ws"),
          TailHampel(v, 2 * ws).over(growing(0)).as(s"tl$ws"),
          guardedStd(-(ws / 2), ahead, ws).as(s"sc$ws"),
          when(rn <= cnt - ahead, TailStd(v, ws).over(growing(ahead))).as(s"tc$ws"),
          guardedStd(-(ws - 1), 0, ws).as(s"st$ws"),
          TailStd(v, ws).over(growing(0)).as(s"tt$ws"))
      }: _*)
    val out = staged.select(Seq(col("*")) ++ windows.map(ws =>
      (if (ws == 1) col(s"tl$ws") else lead(col(s"tl$ws"), ws - 1).over(w)).as(s"lead$ws")): _*)
      .collect()
    out.toSeq.flatMap { r =>
      val (rn, cnt) = (r.getAs[Int]("rn"), r.getAs[Long]("cnt"))
      windows.flatMap { ws =>
        def check(same: (Any, Any) => Boolean, what: String, want: String, got: String) =
          if (same(r.getAs[Any](want), r.getAs[Any](got))) None
          else Some(s"$what ws=$ws rn=$rn/$cnt value=${r.getAs[Any]("value")}: " +
            s"${r.getAs[Any](want)} != ${r.getAs[Any](got)}")
        val stats = (a: Any, b: Any) => sameStats(a.asInstanceOf[Row], b.asInstanceOf[Row])
        // a Hampel frame is exact while ws-1 rows follow; the edge rule
        // never flags the rows after that
        (if (rn <= cnt - (ws - 1))
          check(stats, "hampel", s"hs$ws", s"th$ws").toSeq ++
            check(stats, "hampel lead", s"hs$ws", s"lead$ws")
        else Nil) ++
          check(sameDouble, "centered std", s"sc$ws", s"tc$ws") ++
          check(sameDouble, "trailing std", s"st$ws", s"tt$ws")
      }
    }
  }

  test("tail aggregates == sliding HampelStats / guarded stddev_samp, bit for bit (property)") {
    val genFrame = Gen.choose(1, 4).flatMap(k => Gen.listOfN(k, genSeries))
      .map(_.zipWithIndex.map { case (vs, i) => (s"s$i", vs) })
    var failures = Seq.empty[String]
    val prop = Prop.forAll(genFrame) { frame =>
      failures = mismatches(frame).take(5); failures.isEmpty
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(11L), prop)
    assert(res.passed, s"${res.status}: ${failures.mkString("; ")}")
  }

  test("one unnamed series, with infinite and NaN medians, matches too") {
    val inf = Double.PositiveInfinity
    val values = (Seq.fill(6)(Some(inf)) ++ Seq(Some(1.0), None, Some(-inf), Some(-inf)) ++
      Seq.fill(5)(Some(Double.NaN)) ++ Seq(Some(1e308), Some(1e308), Some(-0.0), Some(0.0)) ++
      (0 until 140).map(i => Some(((i * 7) % 11).toDouble)) ++ Seq.fill(70)(Some(inf))).toList
    val bad = mismatches(Seq("" -> values))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
  }

  test("legacy statisticalAggregate: a one-row window's stddev is NaN in both forms") {
    spark.conf.set("spark.sql.legacy.statisticalAggregate", "true")
    try {
      val bad = mismatches(Seq("a" -> List(Some(1.0), None, Some(2.0), Some(3.0))))
      assert(bad.isEmpty, bad.mkString("; "))
      assert(TailStd(ColumnBridgeTestAccess.expr(lit(1.0)), 1).nullOnDivideByZero == false)
    } finally spark.conf.unset("spark.sql.legacy.statisticalAggregate")
  }

  test("serialize/deserialize and merge round-trip") {
    val gen = for {
      n <- Gen.choose(1, 9)
      xs <- Gen.listOf(genValue)
      ys <- Gen.listOf(genValue)
    } yield (n, xs, ys)
    val prop = Prop.forAll(gen) { case (n, xs, ys) =>
      val v = ColumnBridgeTestAccess.expr(lit(0.0))
      val aggs = Seq(TailHampel(v, n), TailStd(v, n))
      aggs.forall { agg =>
        def ring(vs: Seq[Option[Double]]) = {
          val r = agg.createAggregationBuffer()
          vs.foreach(v => r.push(v.getOrElse(0.0), v.isEmpty))
          r
        }
        def same(a: TailRing, b: TailRing) =
          java.util.Arrays.equals(a.toBytes, b.toBytes) &&
            sameEval(agg.eval(a), agg.eval(b))
        val left = ring(xs)
        val back = agg.deserialize(agg.serialize(left))
        val merged = agg.merge(agg.deserialize(agg.serialize(left)), ring(ys))
        same(back, left) && same(merged, ring(xs ++ ys))
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200).withInitialSeed(5L), prop)
    assert(res.passed, res.status.toString)
  }

  private def sameEval(a: Any, b: Any): Boolean = (a, b) match {
    case (x: org.apache.spark.sql.catalyst.InternalRow, y: org.apache.spark.sql.catalyst.InternalRow) =>
      bits(x.getDouble(0)) == bits(y.getDouble(0)) && bits(x.getDouble(1)) == bits(y.getDouble(1))
    case _ => sameDouble(a, b)
  }
}
