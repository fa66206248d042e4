package graft.ts

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.util.Json
import graft.util.Json._

/** Ensemble of detectors, OR-combining their masks
  * (`/root/reference/tsod/detectors.py:10-55`). The reference loops
  * children sequentially, each re-scanning the series; here each child
  * appends its flag column to ONE DataFrame and the final flag is their
  * disjunction — a single Catalyst plan, so compatible window specs share
  * one sort/exchange and the whole ensemble is one pass over the data.
  * The ensemble places its input once ([[Detector.detect]]) for all of its
  * members: one exchange above the small-input bound, none below.
  *
  * Scala's `Seq` niceties mirror the reference's `Sequence` protocol:
  * `apply(i)`, `length`, iteration via `detectors`.
  */
final case class CombinedDetector(detectors: Seq[Detector]) extends Detector {

  require(detectors.nonEmpty, "CombinedDetector requires at least one detector")

  def apply(i: Int): Detector = detectors(i)
  def length: Int = detectors.size

  override def contextRows: Int =
    if (detectors.exists(_.contextRows < 0)) -1 else detectors.map(_.contextRows).max

  override protected def detectImpl(df: DataFrame, spec: SeriesSpec): DataFrame = {
    val tmpFlags = detectors.indices.map(i => s"__combined_flag_$i")
    val withAll = detectors.zip(tmpFlags).foldLeft(df) { case (acc, (d, f)) =>
      d.detectUnplaced(acc, spec.copy(flag = f))
    }
    withAll
      .withColumn(spec.flag, tmpFlags.map(col).reduce(_ || _))
      .drop(tmpFlags: _*)
  }

  override def fit(df: DataFrame, spec: SeriesSpec = SeriesSpec()): CombinedDetector = {
    validate(df, spec)
    copy(detectors = detectors.map(_.fit(df, spec)))
  }

  override def toJson: JValue = JObj(Seq(
    "type" -> JStr("CombinedDetector"),
    "detectors" -> JArr(detectors.map(_.toJson))))

  /** The reference defines no `CombinedDetector.__str__`, so it inherits
    * the base-class display — just the class name (`base.py:92-93`). */
  override def toString: String = "CombinedDetector"
}

object CombinedDetector {
  def fromJson(j: JValue): CombinedDetector =
    CombinedDetector(j("detectors").arr.map(DetectorIO.fromJson))
}
