package graft.ts

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalactic.source.Position
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Shared local SparkSession + golden-fixture loading for all specs. */
trait SparkSpecBase extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Cancels the calling test, naming `path`, when an input that only the
    * reference checkout holds is absent; wherever it exists the test runs
    * unchanged.
    */
  def assumeReferenceFile(path: String): Unit =
    assume(Files.isRegularFile(Paths.get(path)),
      s"$path absent (reference checkout not on this host)")

  /** Runs `body` with every detector input above the small-input bound
    * ([[TsOps.small]]): AQE's minimum partition size is pinned at one
    * byte while it runs, then restored. Test-sized frames then take the
    * plans large inputs take: an exchange by series under each window.
    */
  def aboveSmallBound[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val size = spark.conf.get(key)
    spark.conf.set(key, "1b")
    try body finally spark.conf.set(key, size)
  }

  /** A test whose body runs [[aboveSmallBound]]. */
  def testAboveSmallBound(name: String)(body: => Any)(implicit pos: Position): Unit =
    test(name)(aboveSmallBound(body))(pos)

  /** Golden CSV → (header mask names, rows). value empty string = null. */
  def loadGolden(name: String): GoldenSeries = {
    val src = Source.fromInputStream(
      getClass.getResourceAsStream(s"/golden/$name.csv"), "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val header = lines.head.split(",").toVector
    val maskNames = header.drop(2)
    val rows = lines.tail.map { ln =>
      val parts = ln.split(",", -1).toVector
      val ts = Timestamp.valueOf(LocalDateTime.parse(parts(0)))
      val v: java.lang.Double = if (parts(1).isEmpty) null else parts(1).toDouble
      val masks = parts.drop(2).map(_ == "1")
      (ts, v, maskNames.zip(masks).toMap)
    }
    GoldenSeries(name, rows)
  }

  def seriesDf(g: GoldenSeries): DataFrame = {
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val rows = g.rows.map { case (ts, v, _) => Row(ts, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), schema)
  }

  /** All golden series stacked with a series_id column (multi-series runs). */
  def stackedDf(gs: Seq[GoldenSeries]): DataFrame = {
    val schema = StructType(Seq(
      StructField("sid", StringType),
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val rows = gs.flatMap(g => g.rows.map { case (ts, v, _) => Row(g.name, ts, v) })
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema)
  }

  /** Collect the flag column in ts order. */
  def maskOf(df: DataFrame, flag: String = "is_anomaly"): Vector[Boolean] = {
    import org.apache.spark.sql.functions.col
    df.orderBy(col("ts")).select(col(flag)).collect().map(_.getBoolean(0)).toVector
  }
}

final case class GoldenSeries(
    name: String,
    rows: Vector[(Timestamp, java.lang.Double, Map[String, Boolean])]) {
  def expected(mask: String): Vector[Boolean] = rows.map(_._3(mask))
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("tsodspark-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
