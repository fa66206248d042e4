package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ts._

/** The reference's real-data smoke test
  * (`tests/test_detectors.py:177-194`): example.csv (134 hourly rows)
  * through `CombinedDetector([ConstantValueDetector, RangeDetector(max
  * 2.0)])`. Expected counts computed by running the reference on the
  * same file: 3 range flags, 13 constant flags, 16 combined. The two
  * tests on that file cancel, naming it, where it is absent.
  */
class CsvSourceSpec extends SparkSpecBase {

  val examplePath = "/root/reference/tests/data/example.csv"

  test("example.csv through CombinedDetector matches the reference masks") {
    assumeReferenceFile(examplePath)
    val df = TimeSeriesCSV.read(spark, examplePath).cache()
    assert(df.count() == 134)
    assert(df.schema.map(f => (f.name, f.dataType.typeName)) ==
      Seq(("ts", "timestamp"), ("value", "double")))
    val cd = CombinedDetector(Seq(ConstantValueDetector(), RangeDetector(maxValue = 2.0)))
    val flagged = cd.detect(df).filter(col("is_anomaly"))
    assert(flagged.count() == 16)
    assert(RangeDetector(maxValue = 2.0).detect(df)
      .filter(col("is_anomaly")).count() == 3)
    assert(ConstantValueDetector().detect(df)
      .filter(col("is_anomaly")).count() == 13)
    val firstFlag = flagged.agg(min(col("ts"))).head().getTimestamp(0).toString
    assert(firstFlag == "2000-01-01 13:00:00.0")
  }

  test("partitioned anomaly sink prunes on the date partition") {
    assumeReferenceFile(examplePath)
    val df = TimeSeriesCSV.read(spark, examplePath)
    val detected = graft.ts.RangeDetector(maxValue = 2.0).detect(df)
    val out = java.nio.file.Files.createTempDirectory("sink").toString + "/anoms"
    TimeSeriesSink.writeAnomalies(detected, out)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("det_date="))
    assert(dirs.nonEmpty)
    val back = spark.read.parquet(out)
    assert(back.count() == 3) // the example.csv range flags
    // partition filter prunes to a subset of files
    val pruned = back.filter(col("det_date") === lit("2000-01-03").cast("date"))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() < 3)
    assert(plan.contains("PartitionFilters") || dirs.length > 1)
  }

  test("permissive ingest: bad rows, NaN strings, and series ids") {
    val p = Files.createTempDirectory("csv").resolve("multi.csv")
    Files.writeString(p,
      """sensor,datetime,value
        |a,2021-01-01T00:00:00,1.0
        |a,2021-01-01T01:00:00,NaN
        |a,not-a-date,2.0
        |a,2021-01-01T03:00:00,oops
        |b,2021-01-01T00:00:00,7.5
        |""".stripMargin)
    val df = TimeSeriesCSV.read(spark, p.toString, seriesIdCol = Some("sensor"))
    assert(df.columns.toSeq == Seq("series_id", "ts", "value"))
    assert(df.count() == 5)
    assert(df.filter(col("value").isNull).count() == 2)  // NaN + oops
    assert(df.filter(col("ts").isNull).count() == 1)     // not-a-date
    // flows straight into a detector with the matching spec
    val out = RangeDetector(0.0, 5.0).detect(df, TimeSeriesCSV.spec(withSeriesId = true))
    assert(out.filter(col("is_anomaly")).count() == 1)   // 7.5 on series b
  }
}
