package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.util.Parquet

/** Bucketed-table plumbing for the stored dedup/ANN indexes — the
  * backfill-scale layout (VERDICT r9 gap #5): a broadcast screen is the
  * right tool for bounded serving batches, but a BACKFILL batch (say a
  * re-screen of a whole historical snapshot) cannot broadcast, and the
  * symmetric fallback shuffles the full stored band relation per batch.
  * Writing the stored relations as `bucketBy(join keys)` tables makes
  * the corpus side of every backfill join EXCHANGE-FREE: Spark's
  * bucketed scan reports the table's hash partitioning, so only the
  * batch side shuffles (into nBuckets partitions).
  *
  * Catalog note: Spark can only exploit bucketing through catalog
  * metadata, never from bare parquet paths. The data files are written
  * ONCE at the index's own paths (they remain readable as plain parquet
  * by every existing loader — bucketing only adds a filename
  * convention); the metadata is a one-line `CREATE TABLE ... CLUSTERED
  * BY ... LOCATION` that [[register]] re-issues idempotently, so a
  * fresh session (or a cluster with a real metastore) re-attaches to
  * the same files.
  */
object BucketedTables {

  /** Write `df` at `path` as a bucketed external table `tableName`
    * (CLUSTERED + SORTED by `bucketCols` into `nBuckets`), replacing
    * any previous registration.
    */
  def saveBucketed(df: DataFrame, path: String, tableName: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $tableName")
    df.write
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path).format("parquet").mode("overwrite")
      .saveAsTable(tableName)
  }

  /** Guard for the PLAIN merge paths: appending plain parquet files
    * into a bucketed layout would land files without bucket ids in
    * their names, silently mis-assigning rows on every later bucketed
    * read — missed duplicates, the exact failure class the meta row
    * exists to prevent. Fails loudly instead.
    */
  def requirePlainLayout(spark: SparkSession, metaPath: String,
      caller: String): Unit = {
    val meta = Parquet.read(spark, metaPath)
    require(!meta.columns.contains("n_buckets"),
      s"$caller: the index at $metaPath uses the BUCKETED layout; a " +
        "plain parquet append would corrupt bucket-to-file assignment " +
        "for every bucketed read — use the *Bucketed merge")
  }

  /** Append `df` into a bucketed table (registered via [[register]] if
    * needed): rows land in correctly bucket-named files. Repartitioned
    * on the bucket keys first so each merge adds at most one file per
    * bucket instead of tasks x buckets small files.
    */
  def appendBucketed(df: DataFrame, path: String, tableName: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    val spark = df.sparkSession
    register(spark, tableName, path, bucketCols, nBuckets)
    // insertInto maps columns POSITIONALLY — a reordered frame would
    // write values into the wrong columns without an error
    val tableCols = spark.table(tableName).columns
    require(df.columns.sameElements(tableCols),
      s"appendBucketed($tableName): column order ${df.columns.mkString(",")} " +
        s"must match the table's ${tableCols.mkString(",")} — insertInto " +
        "binds positionally")
    df.repartition(nBuckets, bucketCols.map(org.apache.spark.sql.functions.col): _*)
      .write.mode("append").insertInto(tableName)
  }

  /** Idempotently (re-)register the bucketed table over files already
    * at `path` — the fresh-session path. The column DDL comes from the
    * files' own parquet schema, so registration can never drift from
    * the data.
    */
  def register(spark: SparkSession, tableName: String, path: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    if (!spark.catalog.tableExists(tableName)) {
      val ddl = Parquet.read(spark, path).schema.toDDL
      val cols = bucketCols.mkString(", ")
      spark.sql(s"""CREATE TABLE $tableName ($ddl) USING parquet
        CLUSTERED BY ($cols) SORTED BY ($cols)
        INTO $nBuckets BUCKETS LOCATION '$path'""")
    } else {
      // a session-level name can only bind ONE location: if the caller
      // reuses a prefix for a DIFFERENT index path, scanning the
      // already-registered table would silently read the wrong corpus —
      // the worst dedup failure mode. Compare canonical URIs (the
      // catalog stores file:/... for local paths).
      val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $tableName")
        .filter(col("col_name") === "Location")
        .select("data_type").head().getString(0)
      val want = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(new org.apache.hadoop.fs.Path(path)).toString
      require(loc.stripSuffix("/") == want.stripSuffix("/"),
        s"register($tableName): already bound to $loc, not $want — two " +
          "indexes cannot share a table prefix in one session; pass a " +
          "distinct tablePrefix")
    }
  }
}
