package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stand-ins for the engine's input tables, in the layout
  * `graft.Tables.load` reads: one plain parquet file per table.
  */
object Tables {

  /** A uniform draw in [0, 1) from the row id, the seed and a stream key. */
  def uniform(seed: Long, k: Int): Column =
    pmod(xxhash64(col("id"), lit(seed), lit(k)), lit(1L << 30)) / lit((1L << 30).toDouble)

  /** Write `df` as the single file `<dir>/<name>.parquet`. */
  def writeSingle(df: DataFrame, dir: String, name: String): Unit = {
    val staging = new File(dir, s".$name.staging")
    df.coalesce(1).write.mode("overwrite").parquet(staging.getPath)
    val part = staging.listFiles().find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written for $name"))
    Files.move(part.toPath, new File(dir, s"$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    delete(staging)
  }

  def delete(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** The `events` table of TESTDATA.md: `users` series over 30 days in
    * time order, with skewed positive values of mean about 50.
    */
  def events(spark: SparkSession, seed: Long, rows: Long, users: Int): DataFrame = {
    val types = array(Seq("click", "error", "purchase", "signup", "view").map(lit): _*)
    val stepMicros = 30L * 86400L * 1000000L / rows
    spark.range(rows).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * stepMicros +
        (uniform(seed, 1) * (stepMicros - 1)).cast("long"))
        .cast("timestamp_ntz").as("ts"),
      (uniform(seed, 2) * users).cast("long").as("user_id"),
      element_at(types, (uniform(seed, 3) * 5).cast("int") + 1).as("event_type"),
      round(-log(lit(1.0) - uniform(seed, 4)) * 50 + 0.01, 2).as("value"),
      concat(lit("{\"k\": "), (uniform(seed, 5) * 100).cast("int").cast("string"), lit("}"))
        .as("props"))
  }
}
