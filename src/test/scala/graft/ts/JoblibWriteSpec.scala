package graft.ts

import java.sql.Timestamp
import java.time.LocalDateTime
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** WRITE parity (§2.3's last asymmetry, closed round 7): engine-saved
  * `.joblib` files must load in the REFERENCE. The inverse of
  * [[JoblibIOSpec]]:
  *
  *  1. JVM round-trip — `toBytes` replayed by [[PickleMini]] must map
  *     back to an equal detector (every supported class, nested
  *     Combined included);
  *  2. cross-engine — the actual reference at /root/reference loads the
  *     engine-written stream (via CPython's own unpickler; an
  *     uncompressed joblib file IS a pickle stream, and `joblib` is
  *     shimmed to plain pickle because the module isn't installed in
  *     this container) and its `detect` masks on a fixed series must
  *     equal the engine's masks bit-for-bit.
  *
  * The python step is skipped (with a visible cancel, never a silent
  * pass) if python3 is unavailable or the reference's `tsod` package
  * (`/root/reference/tsod/__init__.py`) is absent.
  */
class JoblibWriteSpec extends SparkSpecBase {

  private val all: Seq[Detector] = Seq(
    RangeDetector(1.0, 5.0, (0.0, 1.0)),
    RangeDetector(Double.NegativeInfinity, 2.5, (0.1, 0.9)),
    DiffDetector(2.0, "both"),
    GradientDetector(0.5, "positive"),
    RollingStdDevDetector(3, 2.0, center = true),
    ConstantValueDetector(3, 1e-7),
    ConstantGradientDetector(3),
    HampelDetector(2, 3.0),
    CombinedDetector(Seq(RangeDetector(0.0, 4.0), DiffDetector(1.5))))

  test("engine-written joblib round-trips through the engine's own reader") {
    all.foreach { d =>
      val back = JoblibIO.fromBytes(JoblibIO.toBytes(d))
      (d, back) match {
        // Hampel maps back without the engine-only (k, impl) extras
        case (h: HampelDetector, b: HampelDetector) =>
          assert(h.windowSize == b.windowSize && h.threshold == b.threshold)
        case _ => assert(back == d, s"round-trip mismatch for $d")
      }
    }
  }

  test("the reference itself loads engine-saved files and detects identically") {
    import scala.sys.process._
    val py = "which python3".!!.trim
    assume(py.nonEmpty, "python3 not available")
    assumeReferenceFile("/root/reference/tsod/__init__.py")
    val tmp = java.nio.file.Files.createTempDirectory("joblib_write").toString
    // numba-free classes only (the container can't import tsod.hampel)
    val refLoadable: Seq[(String, Detector)] = Seq(
      "range" -> RangeDetector(1.0, 5.0),
      "range_open" -> RangeDetector(Double.NegativeInfinity, 2.5),
      "diff" -> DiffDetector(2.0, "both"),
      "gradient" -> GradientDetector(2000.0, "both"),
      "rolling" -> RollingStdDevDetector(3, 2.0, center = true),
      "constval" -> ConstantValueDetector(3, 1e-7),
      "combined" -> CombinedDetector(Seq(
        RangeDetector(0.0, 6.0), DiffDetector(2.5))))
    refLoadable.foreach { case (n, d) => JoblibIO.save(d, s"$tmp/$n.joblib") }
    // fixed 12-point series: a range spike, a diff jump, a constant run
    val vals = Seq(1.0, 2.0, 9.0, 2.0, 2.0, 2.0, 2.0, 5.5, 1.0, 3.0, 3.2, 2.8)
    val script =
      s"""import sys, types, pickle, json
         |jb = types.ModuleType("joblib")
         |jb.dump = lambda o, p: pickle.dump(o, open(p, "wb"), 2)
         |jb.load = lambda p: pickle.load(open(p, "rb"))
         |sys.modules["joblib"] = jb
         |sys.path.insert(0, "/root/reference")
         |import pandas as pd
         |s = pd.Series([${vals.mkString(",")}],
         |  index=pd.date_range("2020-01-01", periods=${vals.length}, freq="h"))
         |out = {}
         |for n in ${refLoadable.map(p => s""""${p._1}"""").mkString("[", ",", "]")}:
         |    d = jb.load("$tmp/" + n + ".joblib")
         |    out[n] = [bool(x) for x in d.detect(s)]
         |print(json.dumps(out))
         |""".stripMargin
    val pyOut = Seq("python3", "-c", script).!!.trim
    val masks: Map[String, Vector[Boolean]] = {
      // tiny JSON parse (flat {name: [bool...]})
      val m = pyOut.stripPrefix("{").stripSuffix("}")
        .split("\\],?").filter(_.nonEmpty).map { part =>
          val Array(k, v) = part.split(":\\s*\\[", 2)
          k.trim.stripPrefix("\"").stripSuffix("\"") ->
            v.split(",").filter(_.trim.nonEmpty)
              .map(_.trim.toBoolean).toVector
        }
      m.toMap
    }
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("value", DoubleType)))
    val rows = vals.zipWithIndex.map { case (v, i) =>
      Row(Timestamp.valueOf(LocalDateTime.of(2020, 1, 1, i, 0)), v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    refLoadable.foreach { case (n, d) =>
      val engine = maskOf(d.detect(df))
      assert(masks(n) == engine,
        s"$n: reference ${masks(n)} vs engine $engine")
    }
  }
}
