package graft.util

import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.SchemaBridge
import org.apache.spark.sql.types.StructType

/** Every parquet read of the engine. `spark.read.parquet(path)` infers
  * the schema with a one-task Spark job that reads one footer; the
  * engine reads that same footer on the driver instead and hands the
  * schema to `spark.read.schema(..)`, so building a plan over stored
  * parquet starts no job.
  */
object Parquet {

  /** `spark.read.parquet(path)`, its schema read on the driver where
    * [[schemaOf]] can; otherwise Spark's own inference.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    schemaOf(spark, path) match {
      case Some(s) => spark.read.schema(s).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema Spark's inference finds for `path`, from the file it
    * reads: `_common_metadata`, else `_metadata`, else the first data
    * file by path among the non-hidden entries. None — Spark infers —
    * for anything but a plain file or a flat directory: globs,
    * subdirectories (`partitionBy` layouts carry partition columns),
    * schema merging, missing or empty paths and unreadable footers,
    * so Spark raises its own errors.
    */
  def schemaOf(spark: SparkSession, path: String): Option[StructType] = {
    if (spark.conf.get("spark.sql.parquet.mergeSchema").toBoolean ||
        path.exists("{}[]*?\\".contains(_))) return None
    val conf = SchemaBridge.hadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    Try(fs.getFileStatus(p)).toOption.flatMap { st =>
      val leaves: Seq[FileStatus] =
        if (!st.isDirectory) Seq(st)
        else fs.listStatus(p).toSeq.filterNot(f => SchemaBridge.hidden(f.getPath.getName))
      if (leaves.exists(_.isDirectory)) None
      else {
        val sorted = leaves.sortBy(_.getPath.toString)
        def named(n: String) = sorted.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(sorted.find(f => !Set("_common_metadata", "_metadata")(f.getPath.getName)))
          .flatMap(f => Try(SchemaBridge.readSchema(spark, conf, f)).toOption.flatten)
      }
    }
  }
}
