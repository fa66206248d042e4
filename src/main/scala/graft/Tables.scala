package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.util.Parquet

/** Loaders for the driver-generated parquet star schema
  * (see /root/repo/TESTDATA.md). All queries take a `dir` like
  * `/root/testdata/sf0.01` and read one parquet per table.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Temporal columns (`events.ts`, `lineitem.l_shipdate`,
    * `orders.o_orderdate`) have shipped in two physical forms across
    * driver data generations: parquet TIMESTAMP(NANOS) (which Spark's
    * vectorized reader rejects outright — read as long and convert; the
    * data carries no sub-microsecond fractions, so `DIV 1000` to micros
    * is lossless) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark 4 infers as TIMESTAMP_NTZ — cast to the session-local
    * TIMESTAMP; every session here pins UTC, so the wall-clock reading
    * IS the instant and `unix_micros` agrees with DuckDB's naive
    * `epoch_us`). Both normalizations land every query on one TIMESTAMP
    * type regardless of which generation wrote the files.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = Parquet.read(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          acc.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
  }
}
