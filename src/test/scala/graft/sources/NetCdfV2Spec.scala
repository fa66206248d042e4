package graft.sources

import org.apache.spark.sql.functions._
import graft.ts.SparkSpecBase

/** The DSv2 `netcdf` format: schema inference, decode parity with the
  * imperative reader, and — the point of the exercise — column pruning
  * reaching the scan as variable selection.
  */
class NetCdfV2Spec extends SparkSpecBase {

  val fixture = "/root/reference/tests/data/BO_TS_MO_FINO2.nc"

  test("format(netcdf) infers the wide schema and decodes the CMEMS fixture") {
    assumeReferenceFile(fixture)
    val df = spark.read.format("netcdf").load(fixture)
    val cols = df.columns.toSeq
    assert(cols.take(3) == Seq("file", "ts", "level"))
    assert(cols.contains("TEMP") && cols.contains("TEMP_qc"))
    assert(cols.contains("PSAL") && cols.contains("PSAL_qc"))
    // 34797 time steps × 10 depth levels, every variable on one row
    assert(df.count() == 347970L)
    // decode parity with the imperative reader on TEMP level 0
    val v1 = NetCDF.read(spark, fixture, valueVars = Seq("TEMP"))
      .filter(col("series_id") === "TEMP:0")
      .select(col("ts"), col("value"), col("qc"))
    val v2 = df.filter(col("level") === 0)
      .select(col("ts"), col("TEMP").as("value"), col("TEMP_qc").as("qc"))
    assert(v1.exceptAll(v2).count() == 0 && v2.exceptAll(v1).count() == 0)
  }

  test("a missing path fails naming it, not with an internal error") {
    val missing = s"${System.getProperty("java.io.tmpdir")}/no-such-dir-${java.util.UUID.randomUUID}/x.nc"
    val e = intercept[Exception](spark.read.format("netcdf").load(missing).schema)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toList
    assert(messages.exists(_.contains(s"no netcdf files at $missing")),
      s"missing-path error does not name the path: ${messages.mkString(" / ")}")
  }

  test("column pruning reaches the scan as variable selection") {
    assumeReferenceFile(fixture)
    val df = spark.read.format("netcdf").load(fixture)
      .select("ts", "TEMP")
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("BatchScan"))
      .getOrElse(fail(s"no BatchScan in plan:\n$plan"))
    assert(scanLine.contains("TEMP"), s"TEMP missing from scan:\n$scanLine")
    assert(!scanLine.contains("PSAL"),
      s"PSAL not pruned from the scan — variable pushdown regressed:\n$scanLine")
    // and the pruned read still decodes correct values
    val first = df.orderBy("ts").limit(1).collect()(0)
    assert(first.getTimestamp(0).toInstant.toString == "2015-10-01T00:00:00Z")
    assert(math.abs(first.getDouble(1) - 15.68) < 1e-5)
  }

  test("netCDF-3 classic container reads through the same format") {
    val path = getClass.getResource("/golden/classic_fixture.nc").getPath
    val df = spark.read.format("netcdf").load(path)
    assert(df.columns.toSeq == Seq("file", "ts", "level", "TEMP", "TEMP_qc"))
    assert(df.count() == 10) // 5 records × 2 depth levels
    val r0 = df.filter(col("level") === 0).orderBy("ts").collect()
    assert(r0(0).getTimestamp(1).toInstant.toString == "2020-01-01T00:00:00Z")
    assert(math.abs(r0(0).getDouble(3) - 15.5) < 1e-9)
    assert(r0(1).isNullAt(3) && r0(1).getInt(4) == 9) // fill → null
  }

  test("directory load fans out one partition per file with per-file tags") {
    assumeReferenceFile(fixture)
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("ncv2")
    for (n <- Seq("station_a", "station_b"))
      Files.copy(Paths.get(fixture), dir.resolve(s"$n.nc"),
        StandardCopyOption.REPLACE_EXISTING)
    val df = spark.read.format("netcdf").load(dir.toString)
    assert(df.rdd.getNumPartitions == 2)
    val tags = df.select("file").distinct().collect().map(_.getString(0)).toSet
    assert(tags == Set("station_a", "station_b"))
    assert(df.count() == 2 * 347970L)
  }

  test("mixed level counts: shallower variables are null beyond their depth") {
    val path = getClass.getResource("/golden/mixed_levels.nc").getPath
    val df = spark.read.format("netcdf").load(path)
    assert(df.columns.toSeq ==
      Seq("file", "ts", "level", "AIRT", "PSAL", "PSAL_qc", "TEMP"))
    // TEMP has 3 levels -> file level count 3; 4 records x 3 levels
    assert(df.count() == 12)
    val rows = df.orderBy("ts", "level").collect()
    // PSAL (2 levels) must be NULL at level 2 — not a repeat of level 1
    val lvl2 = rows.filter(_.getInt(2) == 2)
    assert(lvl2.forall(_.isNullAt(4)), "PSAL fabricated beyond its depth")
    assert(lvl2.forall(_.isNullAt(5)), "PSAL_qc fabricated beyond its depth")
    // TEMP genuinely has a level 2: first three records decode there
    assert(lvl2.take(3).forall(r => !r.isNullAt(6)))
    assert(math.abs(lvl2(0).getDouble(6) - 13.5) < 1e-9)
    // ...while real PSAL levels decode with CF scaling (3500 * 0.01)
    assert(math.abs(rows(0).getDouble(4) - 35.0) < 1e-9)
    assert(rows(0).getInt(5) == 1)
    // 1-D AIRT repeats across all levels (documented nl == 1 behavior)
    assert(rows.take(3).forall(r => math.abs(r.getDouble(3) - 10.0) < 1e-9))
    // _FillValue still maps to null inside a variable's real depth
    val t2l0 = rows.filter(r => r.getInt(2) == 0)(2) // 3rd record, level 0
    assert(t2l0.isNullAt(4)) // PSAL fill at record 2 level 0
    val t3l2 = rows.filter(r => r.getInt(2) == 2)(3) // 4th record, level 2
    assert(t3l2.isNullAt(6)) // TEMP fill at record 3 level 2
  }

  test("multi-file load null-fills variables missing from a later file") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("ncv2het")
    Files.copy(Paths.get(getClass.getResource("/golden/classic_fixture.nc").getPath),
      dir.resolve("a_classic.nc"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(getClass.getResource("/golden/mixed_levels.nc").getPath),
      dir.resolve("b_mixed.nc"), StandardCopyOption.REPLACE_EXISTING)
    // schema comes from a_classic: (file, ts, level, TEMP, TEMP_qc);
    // b_mixed has TEMP but no TEMP_QC -> its TEMP_qc rows are null,
    // instead of the pre-fix executor NoSuchElementException
    val df = spark.read.format("netcdf").load(dir.toString)
    assert(df.columns.toSeq == Seq("file", "ts", "level", "TEMP", "TEMP_qc"))
    assert(df.count() == 5 * 2 + 4 * 3)
    val mixed = df.filter(col("file") === "b_mixed")
    assert(mixed.count() == 12)
    assert(mixed.filter(col("TEMP_qc").isNotNull).count() == 0)
    assert(mixed.filter(col("TEMP").isNotNull).count() == 11) // one fill
    val classic = df.filter(col("file") === "a_classic")
    assert(classic.filter(col("TEMP_qc").isNotNull).count() == 10)
  }

  test("QC-filtered detector workflow runs on the v2 frame") {
    assumeReferenceFile(fixture)
    import graft.ts._
    val df = spark.read.format("netcdf").load(fixture)
      .filter(col("level") === 0)
      .select(col("ts"), col("TEMP").as("value"), col("TEMP_qc"))
    val spec = SeriesSpec()
    val fitted = RangeDetector().fit(df.filter(col("TEMP_qc") === 1), spec)
    val flagged = fitted.detect(df, spec).filter(col("is_anomaly"))
    assert(flagged.filter(col("TEMP_qc") === 1).count() == 0)
  }
}
