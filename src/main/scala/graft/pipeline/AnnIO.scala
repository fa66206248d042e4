package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Parquet

/** Persistence for ANN indexes. At corpus scale the index IS the
  * artifact — PQ codes / IVF assignments are built once and served for
  * months while the raw embeddings stay cold — so both index kinds
  * round-trip through plain parquet (any Hadoop FS: local, hdfs://,
  * s3a://):
  *
  *   - PQ: `path/codebook` (sub, centroid_id, centroid) +
  *     `path/codes` (id, code, cn);
  *   - IVF: `path/centroids` (list, centroid) + `path/corpus`
  *     PARTITIONED BY `list` — each inverted list is its own directory,
  *     so a probe-pruned read (`WHERE list IN (...)`) touches only
  *     nProbe/nLists of the files (partition pruning, no data skipped
  *     row-by-row).
  *
  * No pickled models: the stored relations are the entire state, so
  * any session (or engine) can read them back.
  */
object AnnIO {

  def savePqIndex(codebook: DataFrame, codes: DataFrame, path: String): Unit = {
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Returns (codebook, codes) exactly as [[Similarity.pqIndex]] built
    * them; [[Similarity.pqTopK]] takes them unchanged.
    */
  def loadPqIndex(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    (Parquet.read(spark, s"$path/codebook"), Parquet.read(spark, s"$path/codes"))

  /** Persist an IVF index: centroids + the indexed corpus partitioned
    * by inverted list.
    */
  def saveIvfIndex(centroids: Array[Array[Double]], indexedCorpus: DataFrame,
      path: String): Unit = {
    val spark = indexedCorpus.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    indexedCorpus.write.mode("overwrite")
      .partitionBy("list").parquet(s"$path/corpus")
  }

  /** Returns (centroids, indexedCorpus) for [[Similarity.ivfTopK]].
    *
    * Columns are selected BY NAME and centroids indexed by their stored
    * `list` id — a centroids relation written by another engine may be
    * sparse, reordered, or column-permuted, and positional collection
    * would silently route probes to the wrong lists. Non-dense list ids
    * fail loudly instead.
    */
  def loadIvfIndex(spark: SparkSession, path: String): (Array[Array[Double]], DataFrame) = {
    val rows = Parquet.read(spark, s"$path/centroids")
      .select(col("list").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val ids = rows.map(_._1).sorted
    require(ids.sameElements(rows.indices),
      s"loadIvfIndex: centroid list ids must be dense 0..${rows.length - 1}, " +
        s"got [${ids.take(5).mkString(",")}...] at $path")
    val byId = rows.toMap
    ((0 until rows.length).map(byId).toArray, Parquet.read(spark, s"$path/corpus"))
  }

  /** Persist an IVF-PQ index ([[Similarity.ivfPqIndex]]'s three
    * relations): coarse centroids + PQ codebook + the code table
    * partitioned by inverted list, so a probe-pruned serve reads only
    * nProbe/nLists of the code files.
    */
  def saveIvfPqIndex(centroids: Array[Array[Double]], codebook: DataFrame,
      codesWithList: DataFrame, path: String): Unit = {
    val spark = codesWithList.sparkSession
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    codesWithList.write.mode("overwrite")
      .partitionBy("list").parquet(s"$path/codes")
  }

  /** Persist the brute-force ANN ground truth for a pinned query set —
    * the (query_id, neighbor_id) top-k pairs the recall certificates
    * ([[Similarity.withRecall]]) compare against. Like the indexes, the
    * truth is a pure function of the corpus data and so belongs in the
    * same build-once artifact family: recomputing an O(corpus × queries)
    * scan on every serve would bill the certificate, not the serving
    * path, and at 100 TB would re-read the whole corpus per query run.
    */
  def saveTruth(truth: DataFrame, path: String): Unit =
    truth.select("query_id", "neighbor_id")
      .write.mode("overwrite").parquet(s"$path/truth")

  def loadTruth(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, s"$path/truth")

  /** Returns (centroids, codebook, codesWithList) for
    * [[Similarity.ivfPqTopK]]; same by-name/dense-id discipline as
    * [[loadIvfIndex]].
    */
  def loadIvfPqIndex(spark: SparkSession, path: String)
      : (Array[Array[Double]], DataFrame, DataFrame) = {
    val rows = Parquet.read(spark, s"$path/centroids")
      .select(col("list").cast("int"), col("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    val ids = rows.map(_._1).sorted
    require(ids.sameElements(rows.indices),
      s"loadIvfPqIndex: centroid list ids must be dense 0..${rows.length - 1} at $path")
    val byId = rows.toMap
    ((0 until rows.length).map(byId).toArray,
      Parquet.read(spark, s"$path/codebook"),
      Parquet.read(spark, s"$path/codes"))
  }
}
