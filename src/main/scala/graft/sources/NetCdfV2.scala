package graft.sources

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 netCDF reader: `spark.read.format("netcdf")
  * .option("timeVar", "TIME").load(archiveGlob)`.
  *
  * WIDE schema, one row per (file, time, level):
  * `(file string, ts timestamp, level int, <VAR> double [, <VAR>_qc int]
  * ...)` — one value column per data variable of the FIRST file (a
  * variable whose leading dimension is the time dimension), plus a
  * `<VAR>_qc` column when the file carries a `<VAR>_QC` flag channel.
  * 1-D (time-only) variables repeat their value across levels; a
  * multi-level variable with fewer levels than the file's deepest one
  * is NULL beyond its own depth, and a schema variable missing from a
  * later file of a multi-file load null-fills its column for that file.
  *
  * Why DSv2 rather than the `binaryFile`+flatMap of [[NetCDF.readMany]]:
  * COLUMN PRUNING BECOMES VARIABLE SELECTION. The scan builder
  * implements `SupportsPushDownRequiredColumns`, and the per-partition
  * reader decodes ONLY the HDF5/CDF datasets backing the requested
  * columns — selecting `ts, TEMP` from a CMEMS archive never inflates
  * PSAL's deflate chunks at all ([[Hdf5Mini.Reader.readDoubles]] is
  * lazy per dataset; container metadata is the only always-parsed
  * part). `.explain` shows the pruned schema on the BatchScan line like
  * any parquet scan.
  *
  * Work distribution matches [[NetCDF.readMany]]: one input partition
  * per file, decoded entirely on the executor (the Hadoop configuration
  * travels inside the reader factory — executors never touch the
  * driver's session) — the scale shape for an archive of many medium
  * files (CMEMS ships one file per station).
  */
class NetCdfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NetCdfV2.inferSchema(
      NetCdfV2.resolvePaths(options),
      options.getOrDefault("timeVar", "TIME"))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new NetCdfTable(schema,
      NetCdfV2.resolvePaths(new CaseInsensitiveStringMap(properties)),
      properties.getOrDefault("timeVar", "TIME"))
}

private[sources] class NetCdfTable(tableSchema: StructType, paths: Seq[String],
    timeVar: String) extends Table with SupportsRead {
  override def name(): String = s"netcdf(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NetCdfScanBuilder(tableSchema, paths, timeVar)
}

private[sources] class NetCdfScanBuilder(full: StructType, paths: Seq[String],
    timeVar: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = full
  private var filePredicates: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  /** FILE PRUNING: predicates on the `file` column (equality, IN,
    * prefix) skip whole input files at planning time — querying one
    * station out of a 10k-file archive opens ONE file. The accepted
    * filters are reported as pushed (they show on the scan's explain
    * line) but are ALSO returned as residual, so Spark re-applies them
    * per row — partition pruning is an optimization, never the
    * correctness boundary.
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    filePredicates = filters.filter(NetCdfV2.isFileFilter)
    filters // everything stays post-scan evaluated
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    filePredicates
  override def build(): Scan =
    new NetCdfScan(required, paths, timeVar, filePredicates)
}

private[sources] case class NetCdfInputPartition(path: String) extends InputPartition

private[sources] class NetCdfScan(required: StructType, paths: Seq[String],
    timeVar: String,
    filePredicates: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    paths.filter(p => NetCdfV2.keepFile(p, filePredicates))
      .map(NetCdfInputPartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    // snapshot the driver's Hadoop conf into a plain serializable map —
    // executors reconstruct it (SparkSession.active does not exist there)
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val entries = conf.iterator().asScala
      .map(e => e.getKey -> e.getValue).toArray
    new NetCdfReaderFactory(required, timeVar, entries)
  }
  override def description(): String =
    s"netcdf vars=[${required.fieldNames.mkString(",")}]"
}

private[sources] class NetCdfReaderFactory(required: StructType,
    timeVar: String, confEntries: Array[(String, String)])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[NetCdfInputPartition].path
    new PartitionReader[InternalRow] {
      private val rows = {
        val conf = new Configuration(false)
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        NetCdfV2.decodePruned(NetCdfV2.readBytes(path, conf), path,
          required, timeVar)
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

private[sources] object NetCdfV2 {

  /** Uniform view over the two container readers. Metadata parses once
    * per file; dataset payloads decode lazily PER VARIABLE — the whole
    * point of the pruned scan.
    */
  private trait VarReader {
    def names: Set[String]
    def dims(n: String): Seq[Long]
    def vals(n: String): Array[Double] // decoded on call, per dataset
    /** (_FillValue, scale_factor, add_offset, units) */
    def meta(n: String): (Option[Double], Double, Double, Option[String])
  }

  private def open(bytes: Array[Byte]): VarReader =
    if (bytes.length > 3 && bytes(0) == 'C' && bytes(1) == 'D' && bytes(2) == 'F') {
      val rd = new NetCdf3Mini.Reader(bytes)
      new VarReader {
        def names: Set[String] = rd.byName.keySet
        def dims(n: String): Seq[Long] = rd.byName(n).dims
        def vals(n: String): Array[Double] = rd.readDoubles(rd.byName(n))
        def meta(n: String): (Option[Double], Double, Double, Option[String]) = {
          val a = rd.byName(n).attrs
          (a.get("_FillValue").map(_.double),
            a.get("scale_factor").map(_.double).getOrElse(1.0),
            a.get("add_offset").map(_.double).getOrElse(0.0),
            a.get("units").map(_.string))
        }
      }
    } else {
      val rd = new Hdf5Mini.Reader(bytes)
      val dsets = rd.rootDatasets()
      new VarReader {
        def names: Set[String] = dsets.keySet
        def dims(n: String): Seq[Long] = dsets(n).dims
        def vals(n: String): Array[Double] = rd.readDoubles(dsets(n))
        def meta(n: String): (Option[Double], Double, Double, Option[String]) = {
          val d = dsets(n)
          (d.attrDouble("_FillValue"),
            d.attrDouble("scale_factor").getOrElse(1.0),
            d.attrDouble("add_offset").getOrElse(0.0),
            d.attrString("units"))
        }
      }
    }

  /** Data variables of a file: leading dimension == the time dimension,
    * not the time variable itself, not a QC channel. Sorted by name.
    */
  private def dataVars(rd: VarReader, timeVar: String): Seq[String] = {
    val nTime = rd.dims(timeVar).head
    rd.names.toSeq.sorted.filter(n =>
      n != timeVar && !n.endsWith("_QC") &&
        rd.dims(n).nonEmpty && rd.dims(n).head == nTime)
  }

  import org.apache.spark.sql.sources.{EqualTo, Filter, In, StringStartsWith}

  /** Filters usable for file-level partition pruning. */
  def isFileFilter(f: Filter): Boolean = f match {
    case EqualTo("file", _: String) => true
    case In("file", _) => true
    case StringStartsWith("file", _) => true
    case _ => false
  }

  /** The `file` column value a path produces. */
  def fileTagOf(path: String): String = path.split('/').last.stripSuffix(".nc")

  /** Conservative file-keep decision: a file survives unless a pushed
    * predicate PROVABLY excludes its tag.
    */
  def keepFile(path: String, predicates: Array[Filter]): Boolean = {
    val tag = fileTagOf(path)
    predicates.forall {
      case EqualTo("file", v: String) => tag == v
      case In("file", vs) => vs.exists(_ == tag)
      case StringStartsWith("file", p) => tag.startsWith(p)
      case _ => true
    }
  }

  /** Expand `path`/`paths` options through the Hadoop filesystem (globs
    * and directories supported); `.nc` filter applies to directories.
    */
  def resolvePaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw = Option(options.get("path")).toSeq ++
      Option(options.get("paths")).toSeq.flatMap(_.split(","))
    require(raw.nonEmpty, "netcdf source requires a path")
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    raw.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val statuses =
        if (fs.isDirectory(hp)) fs.listStatus(hp).toSeq
          .filter(_.getPath.getName.endsWith(".nc"))
        // globStatus returns null, not an empty array, for a missing
        // path without glob characters
        else Option(fs.globStatus(hp)).toSeq.flatten
      require(statuses.nonEmpty, s"no netcdf files at $p")
      // sorted so schema inference (first file wins) is deterministic —
      // FileSystem.listStatus order is filesystem-dependent
      statuses.map(_.getPath.toString).sorted
    }
  }

  def readBytes(path: String, conf: Configuration): Array[Byte] = {
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    val in = fs.open(hp)
    try {
      val len = fs.getFileStatus(hp).getLen
      // toInt on a >=2GiB length would go negative (NegativeArraySize) and
      // a >=4GiB one would wrap positive, silently truncating the buffer
      require(len <= Int.MaxValue,
        s"netcdf file $path is $len bytes — larger than the 2GiB single-buffer limit")
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }

  /** Schema from the FIRST file: `(file, ts, level, <VAR> [, <VAR>_qc])`
    * with value columns sorted by variable name.
    */
  def inferSchema(paths: Seq[String], timeVar: String): StructType = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val rd = open(readBytes(paths.head, conf))
    StructType(
      Seq(StructField("file", StringType), StructField("ts", TimestampType),
        StructField("level", IntegerType)) ++
        dataVars(rd, timeVar).flatMap { name =>
          StructField(name, DoubleType) ::
            (if (rd.names.contains(name + "_QC"))
               List(StructField(name + "_qc", IntegerType))
             else Nil)
        })
  }

  /** Decode one file, reading ONLY the datasets backing `required`
    * columns, emitting catalyst rows in `required` field order.
    *
    * Heterogeneous shapes are handled conservatively — never fabricate:
    *  - a multi-level variable (nl > 1) is NULL for `lvl >= nl`; only
    *    1-D (time-only) variables repeat their value across levels
    *  - a schema variable absent from THIS file (multi-file loads infer
    *    schema from the first file only) null-fills its column
    *  - a file without the time variable fails loudly, naming both
    */
  def decodePruned(bytes: Array[Byte], path: String, required: StructType,
      timeVar: String): Iterator[InternalRow] = {
    val rd = open(bytes)
    require(rd.names.contains(timeVar),
      s"netcdf file $path has no time variable '$timeVar' (vars: ${rd.names.toSeq.sorted.mkString(",")})")
    val nT = rd.dims(timeVar).head.toInt
    // level count spans ALL data vars so row shape is pruning-invariant
    val levels = dataVars(rd, timeVar)
      .map(n => if (rd.dims(n).length > 1) rd.dims(n)(1).toInt else 1)
      .foldLeft(1)(math.max)
    val tsMicros: Array[Long] =
      if (!required.fieldNames.contains("ts")) Array.emptyLongArray
      else {
        val units = rd.meta(timeVar)._4.getOrElse("seconds since 1970-01-01")
        val (epochMicros, unitMicros) = NetCDF.parseTimeUnits(units)
        rd.vals(timeVar).map(t => epochMicros + (t * unitMicros).round)
      }
    val fileTag = UTF8String.fromString(fileTagOf(path))
    val absent = (_: Int, _: Int) => null: Any
    // one extractor per required field, bound once per file — the
    // dataset decodes inside these bindings ARE the column pushdown
    val extract: Array[(Int, Int) => Any] = required.fields.map { fld =>
      fld.name match {
        case "file" => (_: Int, _: Int) => fileTag: Any
        case "ts" => (i: Int, _: Int) => tsMicros(i): Any
        case "level" => (_: Int, lvl: Int) => lvl: Any
        case f if f.endsWith("_qc") =>
          val src = f.stripSuffix("_qc") + "_QC"
          if (!rd.names.contains(src)) absent
          else {
            val d = rd.dims(src)
            val nl = if (d.length > 1) d(1).toInt else 1
            val vals = rd.vals(src)
            if (nl == 1) (i: Int, _: Int) => Int.box(vals(i).toInt): Any
            else (i: Int, lvl: Int) =>
              (if (lvl >= nl) null else Int.box(vals(i * nl + lvl).toInt)): Any
          }
        case f =>
          if (!rd.names.contains(f)) absent
          else {
            val (fill, scale, off, _) = rd.meta(f)
            val d = rd.dims(f)
            val nl = if (d.length > 1) d(1).toInt else 1
            val vals = rd.vals(f)
            def decode(raw: Double): Any =
              if (fill.contains(raw) || raw.isNaN) null
              else Double.box(raw * scale + off)
            if (nl == 1) (i: Int, _: Int) => decode(vals(i))
            else (i: Int, lvl: Int) =>
              if (lvl >= nl) null else decode(vals(i * nl + lvl))
          }
      }
    }
    (0 until nT).iterator.flatMap { i =>
      (0 until levels).iterator.map { lvl =>
        val out = new Array[Any](extract.length)
        var j = 0
        while (j < extract.length) { out(j) = extract(j)(i, lvl); j += 1 }
        new GenericInternalRow(out): InternalRow
      }
    }
  }
}
