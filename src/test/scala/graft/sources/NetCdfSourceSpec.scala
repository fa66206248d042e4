package graft.sources

import org.apache.spark.sql.functions._
import graft.ts._

/** Reads the reference's CMEMS marine-obs fixture
  * (`/root/reference/tests/data/BO_TS_MO_FINO2.nc`, the cmems.ipynb
  * workflow) through the pure-JVM netCDF reader and runs a detector over
  * the decoded series. Expected values below were independently decoded
  * from the raw HDF5 bytes (zlib + struct, no netCDF library). Tests
  * that read that file cancel, naming it, where it is absent; the
  * committed fixtures under `golden/` carry the rest.
  */
class NetCdfSourceSpec extends SparkSpecBase {

  val fixture = "/root/reference/tests/data/BO_TS_MO_FINO2.nc"

  test("decodes TIME/TEMP/QC with CF units, scale_factor and _FillValue") {
    assumeReferenceFile(fixture)
    val df = NetCDF.read(spark, fixture, valueVars = Seq("TEMP")).persist()
    // 34797 obs × 10 depth levels
    assert(df.count() == 347970L)
    assert(df.select(countDistinct("series_id")).head().getLong(0) == 10)
    val sid = "TEMP:0"
    val first = df.filter(col("series_id") === sid).orderBy("ts").limit(3)
      .collect()
    // time units "days since 1950-01-01T00:00:00Z", first = 24014.0
    assert(first(0).getTimestamp(1).toInstant.toString == "2015-10-01T00:00:00Z")
    // int32 raw 15680 × scale_factor 0.001f = 15.68 °C (float32 factor)
    assert(math.abs(first(0).getDouble(2) - 15.68) < 1e-5)
    assert(first(0).getInt(3) == 1) // good_data
    // fill values become null and carry QC flag 9 (missing_value)
    val fills = df.filter(col("value").isNull)
    assert(fills.count() == 5438)
    assert(fills.filter(col("qc") =!= 9).count() == 0)
    // QC-good range sanity: Baltic sea temperature (bad samples carry
    // -273.15 sentinels with qc=4 — the flags are load-bearing)
    val mm = df.filter(col("qc") === 1).agg(min("value"), max("value")).head()
    assert(mm.getDouble(0) > -5 && mm.getDouble(1) < 35)
  }

  test("detector over the decoded frame flags QC-bad samples (cmems workflow)") {
    assumeReferenceFile(fixture)
    val df = NetCDF.read(spark, fixture, valueVars = Seq("TEMP"))
      .filter(col("series_id") === "TEMP:0")
    // the notebook's workflow: trust QC==1 as good data; a range detector
    // fit on good data should flag a superset-consistent mask on the rest
    val spec = SeriesSpec(seriesId = Seq("series_id"))
    val good = df.filter(col("qc") === 1)
    val fitted = RangeDetector().fit(good, spec)
    val flagged = fitted.detect(df, spec).filter(col("is_anomaly"))
    // fitted min/max span all good data → no good sample flags
    assert(flagged.filter(col("qc") === 1).count() == 0)
    assert(fitted.minValue > -5 && fitted.maxValue < 35)
  }

  test("end-to-end CMEMS: decoded NetCDF through detectors reproduces reference masks bit-exactly") {
    assumeReferenceFile(fixture)
    // golden/cmems_masks.csv = the REAL reference (pandas tsod) run over
    // the first 8000 decoded TEMP:0 samples (scripts/gen_cmems_golden.py;
    // input series dumped by DumpCmemsGolden) — so this asserts the full
    // workflow: HDF5 bytes → reader → QC filter → fit → detect produces
    // the same mask bits the reference produces on the same numbers.
    val g = loadGolden("cmems_masks")
    val df = NetCDF.read(spark, fixture, valueVars = Seq("TEMP"))
      .filter(col("series_id") === "TEMP:0")
      .orderBy("ts").limit(8000)
      .select(col("ts"), col("value"), col("qc"))
      .persist()
    // the decoded numbers must equal what the reference consumed — this
    // pins reader drift separately from detector drift
    val decoded = df.orderBy("ts").collect()
    assert(decoded.length == 8000)
    decoded.zip(g.rows).foreach { case (r, (ts, v, _)) =>
      assert(r.getTimestamp(0) == ts, s"ts drift at $ts")
      if (v == null) assert(r.isNullAt(1), s"expected null at $ts")
      else assert(r.getDouble(1) == v.doubleValue, s"value drift at $ts")
    }
    val good = df.filter(col("qc") === 1)
    val dets: Map[String, Detector] = Map(
      "range_fit_goodqc" -> RangeDetector().fit(good),
      "range_fitq_goodqc" -> RangeDetector(quantiles = (0.001, 0.999)).fit(good),
      "range_10_15" -> RangeDetector(10, 15),
      "diff_0p1" -> DiffDetector(0.1),
      "grad_1em4" -> GradientDetector(1e-4),
      "rollstd_w10_0p05" -> RollingStdDevDetector(10, 0.05),
      "const_w3_1em4" -> ConstantValueDetector(3, 1e-4),
      "cgrad_w3" -> ConstantGradientDetector(3),
      "hampel_w5_t3" -> HampelDetector(5, 3),
      "combined_const_range18" -> CombinedDetector(
        Seq(ConstantValueDetector(), RangeDetector(maxValue = 18.0))))
    val failures = dets.flatMap { case (name, det) =>
      val got = maskOf(det.detect(df))
      val want = g.expected(name)
      if (got != want) {
        val diffs = got.zip(want).zipWithIndex.filter { case ((a, b), _) => a != b }
        Some(s"$name: ${diffs.size} differing bits (first at row ${diffs.head._2}); " +
          s"got ${got.count(identity)} vs want ${want.count(identity)} anomalies")
      } else None
    }
    df.unpersist()
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("netCDF-3 classic container decodes via the same surface (CDF-1 fixture)") {
    // src/test/resources/golden/classic_fixture.nc is hand-assembled by
    // scripts/gen_nc3_fixture.py (record dim, padded byte record var,
    // scale/_FillValue attrs)
    val path = getClass.getResource("/golden/classic_fixture.nc").getPath
    val df = NetCDF.read(spark, path, valueVars = Seq("TEMP")).persist()
    assert(df.count() == 10) // 5 records × 2 depth levels
    val rows = df.filter(col("series_id") === "TEMP:0").orderBy("ts").collect()
    assert(rows(0).getTimestamp(1).toInstant.toString == "2020-01-01T00:00:00Z")
    assert(rows(1).getTimestamp(1).toInstant.toString == "2020-01-01T01:00:00Z")
    assert(math.abs(rows(0).getDouble(2) - 15.5) < 1e-9) // 15500 × 0.001
    assert(rows(1).isNullAt(2) && rows(1).getInt(3) == 9) // fill → null, qc 9
    val lvl1 = df.filter(col("series_id") === "TEMP:1").orderBy("ts").collect()
    assert(math.abs(lvl1(0).getDouble(2) - 16.25) < 1e-9)
    assert(lvl1(2).isNullAt(2) && lvl1(2).getInt(3) == 4)
  }

  test("classic HDF5 layout decodes: v0 superblock, v1 headers, symbol-table group") {
    // hand-assembled by scripts/gen_hdf5_v0_fixture.py — exercises the
    // pre-1.8 half of the HDF5 feature matrix (the CMEMS fixture covers
    // v2 superblock / OHDR / dense storage / chunked+deflate)
    val path = getClass.getResource("/golden/classic_hdf5.nc").getPath
    val df = NetCDF.read(spark, path, valueVars = Seq("TEMP"))
    val rows = df.orderBy("ts").collect()
    assert(rows.length == 4)
    assert(rows(0).getTimestamp(1).toInstant.toString == "2021-01-01T00:00:00Z")
    assert(rows(3).getTimestamp(1).toInstant.toString == "2021-01-04T00:00:00Z")
    // int32 raw × scale_factor 0.5 (v1 attribute message)
    assert(rows.map(_.getDouble(2)).toSeq == Seq(15.0, 15.5, -2.0, 16.5))
  }

  test("unsupported HDF5 features fail loudly with a feature-naming message") {
    // the documented Hdf5Mini limits (v2 B-tree internal nodes,
    // multi-level fractal heaps, szip, exotic superblocks) must throw a
    // clear error, never silently mis-decode. Cheapest trigger: an HDF5
    // file whose superblock advertises a version the reader doesn't
    // implement. The reader checks that byte first on every file, so the
    // carrier is the committed golden/classic_hdf5.nc (v0 superblock),
    // plus the CMEMS fixture (v2 superblock) wherever it is on disk.
    import java.nio.file.{Files, Paths}
    val carriers = Seq(getClass.getResource("/golden/classic_hdf5.nc").getPath) ++
      Seq(fixture).filter(p => Files.isRegularFile(Paths.get(p)))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    carriers.foreach { carrier =>
      val bytes = Files.readAllBytes(Paths.get(carrier))
      val mutated = bytes.clone()
      mutated(8) = 9 // superblock version byte (after the 8-byte signature)
      val tmp = Files.createTempFile("graft_bad_superblock", ".nc")
      Files.write(tmp, mutated)
      val e = intercept[Exception] {
        NetCDF.read(spark, tmp.toString, valueVars = Seq("TEMP")).collect()
      }
      assert(messages(e).exists(_.contains("superblock v9")),
        s"$carrier: expected a clear superblock-version error, got: ${messages(e).mkString(" | ")}")
      Files.delete(tmp)
    }
  }

  test("readMany distributes parsing per file and tags series ids") {
    assumeReferenceFile(fixture)
    val df = NetCDF.readMany(spark, fixture, valueVars = Seq("PSAL"))
    val sids = df.select("series_id").distinct().collect().map(_.getString(0))
    assert(sids.length == 10)
    assert(sids.forall(_.startsWith("BO_TS_MO_FINO2:PSAL:")))
    assert(df.count() == 347970L)
  }
}
