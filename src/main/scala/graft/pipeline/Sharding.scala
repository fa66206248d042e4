package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Parquet

/** Training-shard materialization: the last step of a data pipeline —
  * write the curated corpus as `nShards` size-balanced, individually
  * orderable parquet shards that a training job streams independently.
  *
  *  - Shard membership is a pure salted hash of the id (same family as
  *    [[Sampling]]'s holdout splits): deterministic, independent of
  *    cluster size, partitioning, or insertion order, and stable under
  *    corpus append — re-sharding a grown corpus moves only new docs.
  *  - Rows within a shard are written sorted by id, so a resumed reader
  *    has a reproducible order without a shuffle at read time.
  *  - Each shard is one parquet directory (`shard=K/`) holding one
  *    file: `repartition(nShards, shard)` puts every shard's rows in
  *    exactly one task (hash collisions merely let one task write two
  *    shard dirs — still one file per shard).
  */
object Sharding {

  /** Deterministic shard id in [0, nShards): salted 60-bit md5 hash of
    * the id, mod nShards — membership is a pure function of
    * (salt, id, nShards).
    */
  def shardId(id: Column, nShards: Int, salt: String = "shard"): Column = {
    require(nShards > 0, "nShards must be positive")
    (TextOps.hash60(concat(lit(salt + ":"), id.cast("string"))) % nShards)
      .cast("int")
  }

  def writeShards(df: DataFrame, idCol: String, path: String,
      nShards: Int, salt: String = "shard"): Unit =
    df.withColumn("shard", shardId(col(idCol), nShards, salt))
      .repartition(nShards, col("shard"))
      .sortWithinPartitions("shard", idCol)
      .write.mode("overwrite").partitionBy("shard").parquet(path)

  /** Read one shard back (partition-pruned: touches only `shard=K/`). */
  def readShard(spark: SparkSession, path: String, shard: Int): DataFrame =
    Parquet.read(spark, path).filter(col("shard") === shard)
}
