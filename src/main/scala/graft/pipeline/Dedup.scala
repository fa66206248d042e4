package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import TextOps._
import graft.pipeline.CacheLedger.TrackedPersist
import graft.util.Parquet

/** Deduplication operators for training-data pipelines, smallest to
  * largest hammer:
  *
  *  - exact:      one hash-shuffle groupBy (content hash).
  *  - fingerprint: rolling-hash equality (see [[TextOps.fingerprint]]).
  *  - n-gram Jaccard: shingle-set overlap via an inverted-index
  *    self-join — shuffles on shingle, never materializes the O(n²)
  *    pair space (only docs sharing a shingle meet).
  *  - MinHash + LSH: constant-size signatures; banding buckets the
  *    join so candidate generation is linear in collisions, the scale
  *    path for 100 TB corpora.
  *  - SimHash: 48-bit locality-sensitive bit signature; near-dup =
  *    small Hamming distance.
  *
  * All hashes are md5-derived so the DuckDB oracle reproduces them
  * exactly.
  *
  * CACHING CONTRACT: the one-shot pair/cluster APIs ([[jaccardPairs]],
  * [[minhashLshPairs]], [[minhashIndex]], [[cleanCorpus]]) persist
  * intermediates that stay cached until the returned (lazy) DataFrame
  * is consumed — a single job leaves at most a few cached relations,
  * which the session releases on `spark.catalog.clearCache()` or
  * session stop. The per-batch loop API ([[incrementalMinhashPairs]])
  * is self-cleaning: it eagerly materializes the batch result and
  * unpersists its own intermediates before returning, so repeated
  * calls do NOT accumulate cache.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------

  /** Group identical texts: (hash, keep_id = min id, dup_cnt). */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Keep one row per distinct text (first by id). NO window (r13 —
    * the p125 discipline applied to the oldest operator): a
    * `row_number() OVER (PARTITION BY md5(text))` materializes every
    * copy of a text in ONE task, so a viral boilerplate doc with 10⁸
    * copies pins one executor — and this operator sits inside the
    * composed cleanCorpus paths, where that input is exactly what
    * arrives. Instead the survivor is ONE `min_by(full row, id)`
    * aggregate: partial aggregation collapses a hot hash to one row
    * per map partition before the exchange, reduce-side state is one
    * row per distinct text, and — unlike an aggregate + semi-join
    * formulation — the input subtree appears ONCE in the plan (the
    * two-reference form doubled the composed cleanCorpus plan tree and
    * tripled its driver planning time, measured). Ties on (hash, id)
    * pick an arbitrary copy — input rows are identified by (id, text),
    * the id-keyed corpus contract.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = docs.columns
    docs
      .groupBy(md5(col(textCol)).as("__h"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col(s"__row.`$c`").as(c)): _*)
  }

  /** Cross-source PRIORITY dedup — when the same text arrives from
    * several sources (curated dump + crawl + mirror), keep the copy
    * from the most-trusted source, not the lowest id: winner per
    * content group = min `(priority, id)` lexicographically, where
    * smaller priority = more trusted and id breaks ties. The
    * SlimPajama/Dolma merge rule when corpora are unioned.
    *
    * One hash aggregate, no window, no join back for the group stats:
    * the winner is `min(priority · 2^idBits + id)` — the same packed
    * BIGINT move as [[graft.pipeline.Sampling.hostCap]] (bounds
    * enforced loudly; `min` of packed keys is the lexicographic min
    * because both components are nonnegative and id < 2^idBits) — and
    * decodes back arithmetically. Output one row per distinct text:
    * `(content_hash, keep_id, keep_priority, dup_cnt, n_sources)`.
    */
  /** The `(priority, id)` lexicographic order packed into one BIGINT —
    * shared by [[priorityGroups]] and the priority stored-index family.
    * Bounds enforced loudly: a silently-wrapped packing would elect the
    * wrong winner.
    */
  private[graft] def packPriority(idCol: String, priorityCol: String,
      maxPriority: Long, idBits: Int): Column = {
    require(idBits >= 1 && idBits <= 56, s"idBits must be in [1,56]: $idBits")
    require(maxPriority >= 0 && (maxPriority + 1) <= (Long.MaxValue >> idBits),
      s"(maxPriority+1)·2^$idBits must fit a BIGINT: maxPriority=$maxPriority")
    val idMod = 1L << idBits
    val inBounds = col(priorityCol) >= 0L && col(priorityCol) <= maxPriority &&
      col(idCol) >= 0L && col(idCol) < idMod
    when(inBounds, col(priorityCol) * idMod + col(idCol))
      .otherwise(raise_error(lit(
        s"priorityGroups packing bounds violated: need " +
          s"0<=priority<=$maxPriority and 0<=id<2^$idBits")).cast("long"))
  }

  def priorityGroups(docs: DataFrame, idCol: String, textCol: String,
      priorityCol: String, maxPriority: Long,
      idBits: Int = 40): DataFrame = {
    val idMod = 1L << idBits
    docs.select(md5(col(textCol)).as("content_hash"),
        packPriority(idCol, priorityCol, maxPriority, idBits).as("__packed"),
        col(priorityCol))
      .groupBy("content_hash")
      .agg(min("__packed").as("__win"),
        count(lit(1)).as("dup_cnt"),
        countDistinct(col(priorityCol)).as("n_sources"))
      .select(col("content_hash"),
        (col("__win") % idMod).as("keep_id"),
        expr(s"__win div $idMod").as("keep_priority"),
        col("dup_cnt"), col("n_sources"))
  }

  /** Content-defined-chunk duplicate report (Gear/FastCDC rolling-hash
    * chunking, [[graft.functions.GearChunks]]): per doc — how many of
    * its chunks, and how much of its chunked text, already occur
    * earlier in the corpus (first occurrence = smallest (doc, start);
    * every later copy is the duplicate). Chunk boundaries re-sync
    * after edits, so this sees shared regions that shift position
    * between docs — the insertion-robust sibling of the fixed-gram
    * span dedup (p23/p35) and the storage-dedup / incremental-crawl
    * diff primitive.
    *
    * Shape: one chunker projection (codegen) → explode → ONE hash
    * aggregate over chunk hashes (partial map-side; a boilerplate
    * chunk with 10^9 copies reduces to one (hash, min, count) row —
    * no window over power-law hash groups) → equi-join back → per-doc
    * rollup. First-occurrence order is packed `(doc · 2^startBits +
    * start)` with loud bounds. Docs whose text yields no chunks
    * report zeros.
    *
    * Output: `(idCol, n_chunks, chunk_chars, n_dup, dup_chars,
    * dup_permille)`.
    */
  /** The per-occurrence CDC chunk relation shared by [[cdcDupChunks]]
    * and the chunk stored-index family: one row per Gear chunk —
    * `(doc, start, len, chunk_hash, __packed)` with `__packed` the
    * loud-bounded first-occurrence packing `doc·2^startBits + start`.
    */
  private[graft] def cdcChunkOccurrences(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxLen: Int, maskBits: Int,
      startBits: Int): DataFrame = {
    require(startBits >= 1 && startBits <= 40,
      s"startBits must be in [1,40]: $startBits")
    val startMod = 1L << startBits
    val maxDoc = Long.MaxValue >> startBits
    docs.select(col(idCol).cast("long").as("doc"),
        col(textCol).as("__t"),
        explode(graft.functions.GearChunks(col(textCol),
          minLen, maxLen, maskBits)).as("c"))
      .select(col("doc"),
        // substring takes INT positions: a doc past 2^31 code points
        // would silently hash wrong substrings after the cast — fail
        // loudly instead (the packing-bounds discipline)
        when(col("c.start") + col("c.len") <= Int.MaxValue.toLong,
          col("c.start")).otherwise(raise_error(lit(
            "cdcDupChunks: chunk start+len exceeds Int.MaxValue — doc " +
              "too long for substring's INT positions")).cast("long"))
          .as("start"),
        col("c.len").as("len"),
        md5(expr("substring(__t, cast(start as int), cast(len as int))"))
          .as("chunk_hash"))
      .withColumn("__packed",
        when(col("doc") >= 0L && col("doc") < maxDoc &&
            col("start") < startMod,
          col("doc") * startMod + col("start"))
          .otherwise(raise_error(lit(
            s"cdcDupChunks packing bounds violated: need 0<=doc<2^" +
              s"${63 - startBits} and start<2^$startBits")).cast("long")))
  }

  def cdcDupChunks(docs: DataFrame, idCol: String, textCol: String,
      minLen: Int = 16, maxLen: Int = 128, maskBits: Int = 5,
      startBits: Int = 24): DataFrame = {
    val chunks = cdcChunkOccurrences(docs, idCol, textCol, minLen, maxLen,
      maskBits, startBits)
    val first = chunks.groupBy("chunk_hash")
      .agg(min("__packed").as("__first"))
    val perDoc = chunks.join(first, Seq("chunk_hash"))
      .withColumn("__dup", col("__packed") > col("__first"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).as("chunk_chars"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("__dup"), col("len")).otherwise(0L)).as("dup_chars"))
    docs.select(col(idCol).cast("long").as("doc")).distinct()
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("chunk_chars"), lit(0L)).as("chunk_chars"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_permille",
        expr("(dup_chars * 1000) div greatest(chunk_chars, 1)"))
  }

  // ---- CDC chunk stored index ---------------------------------------------
  //
  // The cross-snapshot form of [[cdcDupChunks]] (r13, closing its own
  // scaladoc's "incremental crawl diffing" promise): snapshot N's chunk
  // hashes persist once, and snapshot N+1 asks "which regions of this
  // batch did we already store, even if they shifted position?" without
  // re-chunking the corpus. Same append-only partial-group layout as
  // the line family — `$path/index` holds (chunk_hash, first, cnt)
  // rows under the monoid (min first-occurrence packing, sum cnt), so
  // merges append and N folds serve identically to a rebuild. Meta
  // pins the CHUNKER GEOMETRY (min_len, max_len, mask_bits,
  // start_bits): a batch chunked with different parameters draws
  // different boundaries and would silently stop matching, so the
  // screen takes its geometry FROM the stored meta, never from caller
  // defaults.

  /** Batch partials for the chunk index: one row per distinct chunk
    * hash with its first-occurrence packing and occurrence count.
    */
  private def chunkPartials(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int, maxLen: Int, maskBits: Int,
      startBits: Int): DataFrame =
    cdcChunkOccurrences(docs, idCol, textCol, minLen, maxLen, maskBits,
      startBits)
      .groupBy("chunk_hash")
      .agg(min("__packed").as("first"), count(lit(1)).as("cnt"))

  /** Persist the CDC chunk state of `docs` as a stored chunk index. */
  def saveChunkIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, minLen: Int = 16, maxLen: Int = 128,
      maskBits: Int = 5, startBits: Int = 24): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("cdc_gear_md5", 32, minLen, maxLen, maskBits, startBits))
      .toDF("family", "hash_len", "min_len", "max_len", "mask_bits",
        "start_bits")
      .write.mode("overwrite").parquet(s"$path/meta")
    chunkPartials(docs, idCol, textCol, minLen, maxLen, maskBits, startBits)
      .sortWithinPartitions("chunk_hash")
      .write.mode("overwrite").parquet(s"$path/index")
  }

  /** Load + validate a chunk index: family, the pinned chunker
    * geometry, and the per-file md5 probe. Returns
    * (partials, minLen, maxLen, maskBits, startBits).
    */
  def loadChunkIndex(spark: SparkSession,
      path: String): (DataFrame, Int, Int, Int, Int) =
    loadChunkIndexM(spark, path)._1

  /** [[loadChunkIndex]] plus the collected meta (r14 single-read: the
    * bucketed callers pull n_buckets from the SAME one-row collect).
    */
  private[pipeline] def loadChunkIndexM(spark: SparkSession,
      path: String): ((DataFrame, Int, Int, Int, Int), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadChunkIndex",
      Some(("cdc_gear_md5", "screening against foreign key material " +
        "would silently miss every shared region")),
      Seq("hash_len", "min_len", "max_len", "mask_bits", "start_bits"))
    val hashLen = m.int("hash_len")
    val idx = Parquet.read(spark, s"$path/index")
    require(Seq("chunk_hash", "first", "cnt").forall(idx.columns.contains),
      s"loadChunkIndex: not a chunk index at $path: ${idx.columns.mkString(",")}")
    probeEach(spark, s"$path/index") { f =>
      val r = Parquet.read(spark, f)
        .select(length(col("chunk_hash")),
          col("chunk_hash").rlike("^[0-9a-f]+$")).limit(1).collect()
      r.headOption.foreach { row =>
        require(!row.isNullAt(0) && row.getInt(0) == hashLen && row.getBoolean(1),
          s"loadChunkIndex: file $f carries a non-md5 chunk_hash but " +
            s"meta says hash_len=$hashLen at $path")
      }
    }
    ((idx, m.int("min_len"), m.int("max_len"), m.int("mask_bits"),
      m.int("start_bits")), m)
  }

  /** Screen a batch's CHUNKS against the stored chunk index — the
    * [[cdcDupChunks]] report under the cross-snapshot temporal
    * contract: a batch chunk is a duplicate when its hash exists
    * ANYWHERE in the stored corpus (the corpus was ingested first, so
    * its occurrence wins regardless of packing), or when an earlier
    * batch occurrence (smaller (doc, start) packing) carries the same
    * hash. The chunker geometry comes FROM the stored meta so batch
    * boundaries re-sync exactly like the corpus's did, even when the
    * shared region sits at a different offset (the crawl-diff case).
    *
    * Shuffle ledger (`broadcastBatch = true`, the serving contract):
    * the batch's distinct chunk hashes broadcast and SEMI-FILTER the
    * stored index scan — the corpus contributes one narrow columnar
    * scan and zero exchanges; every remaining exchange is
    * batch-proportional. `broadcastBatch = false` falls back to the
    * symmetric shuffle join for backfill-scale batches.
    *
    * Output: `(idCol, n_chunks, chunk_chars, n_dup, dup_chars,
    * dup_permille)` — docs whose text yields no chunks report zeros.
    */
  def chunksAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    chunksScreenBody(newDocs, indexPath, idCol, textCol, broadcastBatch,
      corpusBloom = None)

  private def chunksScreenBody(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter],
      idxOverride: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val (idx0, minLen, maxLen, maskBits, startBits) =
      loadChunkIndex(spark, indexPath)
    val idx = idxOverride.getOrElse(idx0)
    val chunks = cdcChunkOccurrences(newDocs, idCol, textCol, minLen,
      maxLen, maskBits, startBits).persistTracked()
    // sketch-negative chunk hashes are DEFINITELY not in the corpus —
    // gating the probe set loses nothing (they miss corpusHit anyway)
    val probe = corpusBloom match {
      case Some(bf) => chunks.filter(graft.functions.BloomMightContain(
        xxhash64(col("chunk_hash")), bf))
      case None => chunks
    }
    val bKeys = probe.select("chunk_hash").distinct()
    val corpusHit = (if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("chunk_hash"), "left_semi")
      else idx.join(bKeys, Seq("chunk_hash"), "left_semi"))
      .select("chunk_hash").distinct()
      .withColumn("__in_corpus", lit(true))
    val batchFirst = chunks.groupBy("chunk_hash")
      .agg(min("__packed").as("__bf"))
    val perDoc = chunks
      .join(batchFirst, Seq("chunk_hash"))
      .join(if (broadcastBatch) broadcast(corpusHit) else corpusHit,
        Seq("chunk_hash"), "left")
      .withColumn("__dup",
        coalesce(col("__in_corpus"), lit(false)) ||
          col("__packed") > col("__bf"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("len")).as("chunk_chars"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(col("__dup"), col("len")).otherwise(0L)).as("dup_chars"))
    newDocs.select(col(idCol).cast("long").as("doc")).distinct()
      .join(perDoc, Seq("doc"), "left")
      .select(col("doc").as(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("chunk_chars"), lit(0L)).as("chunk_chars"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
      .withColumn("dup_permille",
        expr("(dup_chars * 1000) div greatest(chunk_chars, 1)"))
  }

  /** Fold a batch INTO the stored chunk index: the batch's own
    * partials append as new files (O(batch); readers combine by the
    * (min first, sum cnt) monoid). The batch is chunked with the
    * STORED geometry — a caller cannot fold mismatched boundaries.
    */
  def mergeIntoChunkIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoChunkIndex")
    val (_, minLen, maxLen, maskBits, startBits) =
      loadChunkIndex(spark, indexPath)
    chunkPartials(newDocs, idCol, textCol, minLen, maxLen, maskBits,
      startBits)
      .sortWithinPartitions("chunk_hash")
      .write.mode("append").parquet(s"$indexPath/index")
  }

  /** [[compactExactIndex]] for the CDC chunk family: the (min first,
    * sum cnt) combine the screens run, run once — one row per chunk
    * hash after N folds, serving byte-identical. NULL firsts from
    * deletion are skipped by min (all-NULL stays NULL), the exact
    * family's rule. Bloom sidecar rebuilt via [[buildChunkBloom]],
    * never carried.
    */
  def compactChunkIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit = {
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "compactChunkIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "compactChunkIndex")
    val (idx, minLen, maxLen, maskBits, startBits) =
      loadChunkIndex(spark, indexPath)
    import spark.implicits._
    Seq(("cdc_gear_md5", 32, minLen, maxLen, maskBits, startBits))
      .toDF("family", "hash_len", "min_len", "max_len", "mask_bits",
        "start_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    idx.groupBy("chunk_hash")
      .agg(min(col("first")).as("first"), sum(col("cnt")).as("cnt"))
      .sortWithinPartitions("chunk_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** [[deleteFromExactIndex]] for the CDC chunk family: re-chunk the
    * deleted docs under the STORED geometry, subtract their partials,
    * and write a NEW index at `outPath`, O(index + deletes) — never a
    * corpus rescan. The (min first, sum cnt) monoid gets the exact
    * family's honest deletion semantics:
    *   - a chunk hash whose every occurrence is deleted DISAPPEARS
    *     (screens stop flagging the region — the content is
    *     forgotten);
    *   - a surviving hash whose stored FIRST-occurrence packing
    *     belongs to a deleted doc keeps its count with `first` NULL —
    *     the next-earliest retained (doc, start) was folded away.
    *     Packed values are unique per occurrence, so the stored first
    *     is deleted IFF the delete partials' own min equals the
    *     stored min (no id join needed). Serving is unaffected:
    *     [[chunksAgainstIndex]] consumes key EXISTENCE only;
    *   - content the index never saw, over-deletion and duplicate
    *     delete ids raise; outPath must differ; the bloom sidecar is
    *     rebuilt via [[buildChunkBloom]], never carried.
    */
  def deleteFromChunkIndex(deletedDocs: DataFrame, indexPath: String,
      outPath: String, idCol: String, textCol: String): Unit = {
    val spark = deletedDocs.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromChunkIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromChunkIndex")
    val (idx, minLen, maxLen, maskBits, startBits) =
      loadChunkIndex(spark, indexPath)
    val delIds = deletedDocs.select(col(idCol).cast("long").as("__del_id"))
    val nDel = delIds.count()
    val nDelIds = delIds.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromChunkIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids — counts would double-subtract")
    val totals = idx.groupBy("chunk_hash")
      .agg(min(col("first")).as("first"), sum(col("cnt")).as("cnt"))
    val del = chunkPartials(deletedDocs, idCol, textCol, minLen, maxLen,
        maskBits, startBits)
      .select(col("chunk_hash"), col("first").as("__df"),
        col("cnt").as("__del_cnt"))
    // misuse checks inside the projected count (raise_error branches) —
    // see deleteFromExactIndex for why not filter(assert_true)
    val newCnt = col("cnt") - coalesce(col("__del_cnt"), lit(0L))
    val checkedCnt =
      when(col("cnt").isNull, raise_error(concat(
        lit("deleteFromChunkIndex: delete list carries chunk content " +
          "the index never saw (hash "), col("chunk_hash"),
        lit(") — wrong index, wrong delete list or foreign geometry")))
        .cast("long"))
        .when(newCnt < 0, raise_error(concat(
          lit("deleteFromChunkIndex: more occurrences deleted than the " +
            "index holds for hash "), col("chunk_hash"),
          lit(" — double delete or foreign corpus"))).cast("long"))
        .otherwise(newCnt)
    val out = totals.join(del, Seq("chunk_hash"), "full_outer")
      .select(col("chunk_hash"),
        when(col("__df") === col("first"), lit(null).cast("long"))
          .otherwise(col("first")).as("first"),
        checkedCnt.as("cnt"))
      .filter(col("cnt") > 0)
    import spark.implicits._
    Seq(("cdc_gear_md5", 32, minLen, maxLen, maskBits, startBits))
      .toDF("family", "hash_len", "min_len", "max_len", "mask_bits",
        "start_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    out.sortWithinPartitions("chunk_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** Build (or REBUILD after folds) the chunk index's bloom sidecar
    * over `xxhash64(chunk_hash)` — same drift-stamp/loud-failure
    * contract as [[buildExactBloom]].
    */
  def buildChunkBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val (idx, _, _, _, _) = loadChunkIndex(spark, indexPath)
    writeBloomSidecar(indexPath, s"$indexPath/index",
      idx.select(xxhash64(col("chunk_hash")).as("k")),
      "cdc_xxhash64", expectedItems, fpp)
  }

  def loadChunkBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/index",
      "cdc_xxhash64", "buildChunkBloom")

  /** [[saveChunkIndex]] in the backfill layout: the same
    * (chunk_hash, first, cnt) partial groups, `bucketBy(chunk_hash)`
    * as an external catalog table, meta additionally pins n_buckets —
    * the corpus side of a backfill-scale chunk screen never exchanges.
    */
  def saveChunkIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, path: String, minLen: Int = 16, maxLen: Int = 128,
      maskBits: Int = 5, startBits: Int = 24, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("cdc_gear_md5", 32, minLen, maxLen, maskBits, startBits, nBuckets))
      .toDF("family", "hash_len", "min_len", "max_len", "mask_bits",
        "start_bits", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(
      chunkPartials(docs, idCol, textCol, minLen, maxLen, maskBits,
        startBits),
      s"$path/index", s"${prefix}_chunk", Seq("chunk_hash"), nBuckets)
  }

  /** The backfill-scale chunk screen: identical relation to
    * [[chunksAgainstIndex]], stored partials consumed through the
    * bucketed catalog table — only the batch shuffles.
    */
  def chunksAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    // family + geometry + probe; n_buckets from the same one-row read
    val (_, m) = loadChunkIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "chunksAgainstIndexBucketed",
      indexPath, "chunksAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_chunk", s"$indexPath/index",
      Seq("chunk_hash"), nBuckets)
    chunksScreenBody(newDocs, indexPath, idCol, textCol,
      broadcastBatch = false, corpusBloom = None,
      idxOverride = Some(spark.table(s"${prefix}_chunk")))
  }

  /** [[mergeIntoChunkIndex]] for the bucketed layout. */
  def mergeIntoChunkIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((_, minLen, maxLen, maskBits, startBits), m) =
      loadChunkIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoChunkIndexBucketed",
      indexPath, "mergeIntoChunkIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.appendBucketed(
      chunkPartials(newDocs, idCol, textCol, minLen, maxLen, maskBits,
        startBits),
      s"$indexPath/index", s"${prefix}_chunk", Seq("chunk_hash"), nBuckets)
  }

  /** [[chunksAgainstIndex]] with the bloom fast path: batch chunk
    * hashes the sketch rules out never consult the stored index. On a
    * mostly-fresh crawl increment the broadcast key set and the index
    * row groups it touches shrink to the sketch-positive minority. No
    * false negatives ⇒ the report is IDENTICAL to the unbloomed
    * screen's.
    */
  def chunksAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    chunksScreenBody(newDocs, indexPath, idCol, textCol, broadcastBatch,
      corpusBloom = Some(loadChunkBloom(newDocs.sparkSession, indexPath)))

  // ---- priority stored index ----------------------------------------------
  //
  // The cross-snapshot form of [[priorityGroups]]: a curated corpus is
  // indexed once, and each arriving crawl batch asks "do we already
  // hold this text from a MORE trusted source?" without touching the
  // corpus text. Same append-only partial-group layout as the exact
  // family; the monoid is (min packed-winner, sum dup_cnt, bit_or
  // priority-mask) — all three combine associatively, so N appended
  // snapshots serve identically to a fresh rebuild. Priorities are
  // constrained to [0, 62] here (they are trust TIERS, a handful in
  // practice) so the seen-priorities set is one BIGINT bitmask — the
  // only set-valued stat that stays a monoid.

  /** Batch partials for the priority index: one row per content hash
    * with the packed winner, occurrence count and priority bitmask.
    */
  private def priorityPartials(docs: DataFrame, idCol: String,
      textCol: String, priorityCol: String, maxPriority: Long,
      idBits: Int): DataFrame =
    docs.select(md5(col(textCol)).as("content_hash"),
        packPriority(idCol, priorityCol, maxPriority, idBits).as("__packed"),
        col(priorityCol))
      .groupBy("content_hash")
      .agg(min("__packed").as("win"),
        count(lit(1)).cast("long").as("dup_cnt"),
        bit_or(expr(s"shiftleft(1L, cast(`$priorityCol` as int))"))
          .as("prio_mask"))

  /** Persist the priority partial-group relation at `path`. Meta pins
    * the PACKING GEOMETRY (max_priority, id_bits) — folding a batch
    * packed with a different geometry would decode garbage winners, so
    * [[loadPriorityIndex]] fails loudly on any mismatch.
    */
  def savePriorityIndex(docs: DataFrame, idCol: String, textCol: String,
      priorityCol: String, maxPriority: Long, path: String,
      idBits: Int = 40): Unit = {
    require(maxPriority <= 62,
      s"priority index stores a BIGINT priority bitmask: maxPriority " +
        s"must be <= 62, got $maxPriority")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("priority_md5", 32, maxPriority, idBits))
      .toDF("family", "hash_len", "max_priority", "id_bits")
      .write.mode("overwrite").parquet(s"$path/meta")
    priorityPartials(docs, idCol, textCol, priorityCol, maxPriority, idBits)
      .sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$path/index")
  }

  /** Load + validate a priority index: family, geometry columns and the
    * per-file md5 probe (the [[loadExactIndex]] discipline). Returns
    * (partials, maxPriority, idBits).
    */
  def loadPriorityIndex(spark: SparkSession,
      path: String): (DataFrame, Long, Int) =
    loadPriorityIndexM(spark, path)._1

  /** [[loadPriorityIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadPriorityIndexM(spark: SparkSession,
      path: String): ((DataFrame, Long, Int), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadPriorityIndex",
      Some(("priority_md5", "screening against foreign key material " +
        "would silently miss every duplicate")),
      Seq("hash_len", "max_priority", "id_bits"))
    val hashLen = m.int("hash_len")
    val idx = Parquet.read(spark, s"$path/index")
    require(Seq("content_hash", "win", "dup_cnt", "prio_mask")
        .forall(idx.columns.contains),
      s"loadPriorityIndex: not a priority index at $path: ${idx.columns.mkString(",")}")
    probeEach(spark, s"$path/index") { f =>
      val r = Parquet.read(spark, f)
        .select(length(col("content_hash")),
          col("content_hash").rlike("^[0-9a-f]+$")).limit(1).collect()
      r.headOption.foreach { row =>
        require(!row.isNullAt(0) && row.getInt(0) == hashLen && row.getBoolean(1),
          s"loadPriorityIndex: file $f carries a non-md5 content_hash but " +
            s"meta says hash_len=$hashLen at $path")
      }
    }
    ((idx, m.long("max_priority"), m.int("id_bits")), m)
  }

  /** Screen a batch against the stored priority index: per batch doc —
    * the winning `(keep_priority, keep_id)` across corpus ∪ batch, the
    * corpus occurrence count and seen-priority count for its hash, and
    * `keep` = this doc IS the winner. Relationally equal to
    * [[priorityGroups]] over corpus ∪ batch restricted to batch rows
    * (same packed-min winner). Shuffle ledger = the exact family's:
    * batch hashes broadcast and semi-filter the stored index scan; the
    * corpus contributes one narrow columnar scan and zero exchanges.
    */
  def priorityAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, priorityCol: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val (idx, maxPriority, idBits) = loadPriorityIndex(spark, indexPath)
    priorityScreenBody(newDocs, idx, maxPriority, idBits, idCol, textCol,
      priorityCol, broadcastBatch)
  }

  /** The priority screen body over an already-loaded partial-group
    * relation — shared by the plain and bucketed forms.
    */
  private def priorityScreenBody(newDocs: DataFrame, idx: DataFrame,
      maxPriority: Long, idBits: Int, idCol: String, textCol: String,
      priorityCol: String, broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame = {
    val idMod = 1L << idBits
    val batch = newDocs.select(col(idCol).cast("long").as("doc"),
        md5(col(textCol)).as("content_hash"),
        packPriority(idCol, priorityCol, maxPriority, idBits).as("__p"),
        col(priorityCol).cast("int").as("__prio"))
      .persistTracked()
    // sketch-negative hashes are DEFINITELY not in the corpus (no false
    // negatives), so gating the probe set loses nothing: they take the
    // stored-miss branch (left-join null) they would have taken anyway
    val probe = corpusBloom match {
      case Some(bf) => batch.filter(graft.functions.BloomMightContain(
        xxhash64(col("content_hash")), bf))
      case None => batch
    }
    val bKeys = probe.select("content_hash").distinct()
    val matching =
      if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("content_hash"), "left_semi")
      else idx.join(bKeys, Seq("content_hash"), "left_semi")
    val stored = matching.groupBy("content_hash")
      .agg(min(col("win")).as("__cw"), sum(col("dup_cnt")).as("__cn"),
        bit_or(col("prio_mask")).as("__cm"))
    val batchAgg = batch.groupBy("content_hash")
      .agg(min(col("__p")).as("__bw"),
        bit_or(expr("shiftleft(1L, __prio)")).as("__bm"))
    // a post-deletion key can hold copies with an UNKNOWN winner (win
    // NULL, [[deleteFromPriorityIndex]]): an arriving copy is a
    // duplicate of retained corpus content whose trust tier was folded
    // away — it must NOT claim the win, and no winner is reportable:
    // keep=false, keep_id/keep_priority NULL (the exactScreenBody
    // rule). Unreachable for never-deleted indexes.
    val unknownWinner =
      col("__cw").isNull && coalesce(col("__cn"), lit(0L)) > 0
    batch
      .join(batchAgg, Seq("content_hash"))
      .join(stored, Seq("content_hash"), "left")
      .select(col("doc"), col("content_hash"),
        when(unknownWinner, lit(null).cast("long"))
          .otherwise(least(col("__cw"), col("__bw")) % idMod).as("keep_id"),
        when(unknownWinner, lit(null).cast("long"))
          .otherwise(expr(s"least(__cw, __bw) div $idMod"))
          .as("keep_priority"),
        coalesce(col("__cn"), lit(0L)).as("n_corpus"),
        bit_count(coalesce(col("__cm"), lit(0L))
          .bitwiseOR(col("__bm"))).cast("long").as("n_priorities"),
        when(unknownWinner, lit(false))
          .otherwise(col("__p") === least(col("__cw"), col("__bw")))
          .as("keep"))
  }

  /** Fold a batch INTO the stored priority index: the batch's own
    * partials append as new files (O(batch)); geometry must match the
    * stored meta or the fold refuses.
    */
  def mergeIntoPriorityIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, priorityCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoPriorityIndex")
    val (_, maxPriority, idBits) = loadPriorityIndex(spark, indexPath)
    priorityPartials(newDocs, idCol, textCol, priorityCol, maxPriority, idBits)
      .sortWithinPartitions("content_hash")
      .write.mode("append").parquet(s"$indexPath/index")
  }

  /** [[compactExactIndex]] for the PRIORITY family: the (min win,
    * sum dup_cnt, bit_or prio_mask) combine the screens run, run once
    * — one row per key after N folds, serving byte-identical. NULL
    * wins from deletion are skipped by min (all-NULL stays NULL), the
    * exact family's rule. Bloom sidecar rebuilt via
    * [[buildPriorityBloom]], never carried.
    */
  def compactPriorityIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit = {
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "compactPriorityIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "compactPriorityIndex")
    val (idx, maxPriority, idBits) = loadPriorityIndex(spark, indexPath)
    import spark.implicits._
    Seq(("priority_md5", 32, maxPriority, idBits))
      .toDF("family", "hash_len", "max_priority", "id_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    idx.groupBy("content_hash")
      .agg(min(col("win")).as("win"), sum(col("dup_cnt")).as("dup_cnt"),
        bit_or(col("prio_mask")).as("prio_mask"))
      .sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** [[deleteFromExactIndex]] for the PRIORITY family: subtract the
    * deleted docs' own recomputed partials (under the STORED packing
    * geometry) and write a NEW index at `outPath`, O(index + deletes).
    * Two of the three monoid stats are non-retractable and get the
    * exact family's honest treatment:
    *   - a key whose every contributor is deleted DISAPPEARS;
    *   - a surviving key whose stored packed WINNER belongs to a
    *     deleted doc keeps its count with `win` NULL — the
    *     next-most-trusted retained (priority, id) was folded away
    *     and inventing one would be wrong. The winner test needs no
    *     id join: packed values are unique per doc, so the stored
    *     winner is deleted IFF the delete partials' own min equals
    *     the stored min. Screens treat NULL-win keys honestly
    *     ([[priorityAgainstIndex]]): an arriving copy reports
    *     keep=false with NULL keep_id/keep_priority;
    *   - `prio_mask` is a bit_or — bits cannot be retracted without a
    *     corpus rescan, so the surviving mask is kept AS STORED: an
    *     over-approximation (a deleted contributor's sole priority
    *     bit lingers). Callers needing the exact retained mask
    *     rebuild from the retained corpus.
    * The shared loud contract: content the index never saw raises,
    * over-deletion (counts going negative) raises, duplicate delete
    * ids raise, outPath must differ, and the bloom sidecar is rebuilt
    * via [[buildPriorityBloom]], never carried.
    */
  def deleteFromPriorityIndex(deletedDocs: DataFrame, indexPath: String,
      outPath: String, idCol: String, textCol: String,
      priorityCol: String): Unit = {
    val spark = deletedDocs.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromPriorityIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromPriorityIndex")
    val (idx, maxPriority, idBits) = loadPriorityIndex(spark, indexPath)
    val delIds = deletedDocs.select(col(idCol).cast("long").as("__del_id"))
    val nDel = delIds.count()
    val nDelIds = delIds.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromPriorityIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids — counts would double-subtract")
    val totals = idx.groupBy("content_hash")
      .agg(min(col("win")).as("win"), sum(col("dup_cnt")).as("dup_cnt"),
        bit_or(col("prio_mask")).as("prio_mask"))
    val del = priorityPartials(deletedDocs, idCol, textCol, priorityCol,
        maxPriority, idBits)
      .select(col("content_hash"), col("win").as("__dw"),
        col("dup_cnt").as("__del_cnt"))
    // the misuse checks live INSIDE the projected count (raise_error
    // branches), not in separate filter(assert_true) nodes — the
    // optimizer may evaluate the cheap `> 0` predicate first and
    // silently drop exactly the rows that must fail
    val newCnt = col("dup_cnt") - coalesce(col("__del_cnt"), lit(0L))
    val checkedCnt =
      when(col("dup_cnt").isNull, raise_error(concat(
        lit("deleteFromPriorityIndex: delete list carries content the " +
          "index never saw (hash "), col("content_hash"),
        lit(") — wrong index or wrong delete list"))).cast("long"))
        .when(newCnt < 0, raise_error(concat(
          lit("deleteFromPriorityIndex: more copies deleted than the " +
            "index holds for hash "), col("content_hash"),
          lit(" — double delete or foreign corpus"))).cast("long"))
        .otherwise(newCnt)
    val out = totals.join(del, Seq("content_hash"), "full_outer")
      .select(col("content_hash"),
        when(col("__dw") === col("win"), lit(null).cast("long"))
          .otherwise(col("win")).as("win"),
        checkedCnt.as("dup_cnt"), col("prio_mask"))
      .filter(col("dup_cnt") > 0)
    import spark.implicits._
    Seq(("priority_md5", 32, maxPriority, idBits))
      .toDF("family", "hash_len", "max_priority", "id_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    out.sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** [[savePriorityIndex]] in the backfill layout (r12 verdict gap #2):
    * the same partial-group relation, `bucketBy(content_hash)` as an
    * external catalog table, meta additionally pins n_buckets.
    * [[priorityAgainstIndexBucketed]]'s semi-filter and per-hash
    * combine then consume the table's own hash partitioning — the
    * corpus side never exchanges at any batch size.
    */
  def savePriorityIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, priorityCol: String, maxPriority: Long,
      path: String, idBits: Int = 40, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    require(maxPriority <= 62,
      s"priority index stores a BIGINT priority bitmask: maxPriority " +
        s"must be <= 62, got $maxPriority")
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("priority_md5", 32, maxPriority, idBits, nBuckets))
      .toDF("family", "hash_len", "max_priority", "id_bits", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(
      priorityPartials(docs, idCol, textCol, priorityCol, maxPriority, idBits),
      s"$path/index", s"${prefix}_priority", Seq("content_hash"), nBuckets)
  }

  /** The backfill-scale priority screen: identical relation to
    * [[priorityAgainstIndex]], but the stored side is the bucketed
    * catalog table — only the batch shuffles (into nBuckets
    * partitions); the corpus side is exchange-free.
    */
  def priorityAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, priorityCol: String,
      tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    val ((_, maxPriority, idBits), m) = loadPriorityIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "priorityAgainstIndexBucketed",
      indexPath, "priorityAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_priority", s"$indexPath/index",
      Seq("content_hash"), nBuckets)
    priorityScreenBody(newDocs, spark.table(s"${prefix}_priority"),
      maxPriority, idBits, idCol, textCol, priorityCol,
      broadcastBatch = false)
  }

  /** [[mergeIntoPriorityIndex]] for the bucketed layout: batch partials
    * append through the catalog table (correct bucket ids); geometry
    * must match the stored meta or the fold refuses.
    */
  def mergeIntoPriorityIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, priorityCol: String,
      tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((_, maxPriority, idBits), m) = loadPriorityIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoPriorityIndexBucketed",
      indexPath, "mergeIntoPriorityIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.appendBucketed(
      priorityPartials(newDocs, idCol, textCol, priorityCol, maxPriority,
        idBits),
      s"$indexPath/index", s"${prefix}_priority", Seq("content_hash"),
      nBuckets)
  }

  /** Build (or REBUILD after folds) the priority index's bloom sidecar
    * over `xxhash64(content_hash)` — same drift-stamp/loud-failure
    * contract as [[buildExactBloom]].
    */
  def buildPriorityBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val (idx, _, _) = loadPriorityIndex(spark, indexPath)
    writeBloomSidecar(indexPath, s"$indexPath/index",
      idx.select(xxhash64(col("content_hash")).as("k")),
      "priority_xxhash64", expectedItems, fpp)
  }

  def loadPriorityBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/index",
      "priority_xxhash64", "buildPriorityBloom")

  /** [[priorityAgainstIndex]] with the bloom fast path: batch hashes
    * the sketch rules out never consult the stored index — they take
    * the stored-miss branch directly (winner decided within the
    * batch). No false negatives ⇒ the returned relation is IDENTICAL
    * to the unbloomed screen's.
    */
  def priorityAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, priorityCol: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val bloom = loadPriorityBloom(spark, indexPath)
    val (idx, maxPriority, idBits) = loadPriorityIndex(spark, indexPath)
    priorityScreenBody(newDocs, idx, maxPriority, idBits, idCol, textCol,
      priorityCol, broadcastBatch, corpusBloom = Some(bloom))
  }

  // ---- exact stored index ------------------------------------------------
  //
  // The p71 cross-snapshot pattern for the EXACT family (round-10
  // verdict gap #2): crawl-N+1 exact screening against a stored
  // canonical-key relation is the cheapest, most-used screen in
  // practice — it must not re-aggregate the full corpus per batch.
  //
  // LAYOUT: append-only PARTIAL groups. `$path/index` holds
  // (content_hash, keep_id, dup_cnt) rows that are partial aggregates
  // under the monoid (min keep_id, sum dup_cnt) — a fresh save writes
  // one combined row per hash, and every merge APPENDS the batch's own
  // partial rows as new files instead of rewriting history (the fold
  // is O(batch), the property that makes the minhash/cosine/signature
  // folds scale). Readers combine partials per hash; the serving
  // screen combines only the hashes the batch actually touches.

  /** Persist [[exactGroups]] of `docs` as a stored exact index at
    * `path` (meta + the partial-group relation, sorted by hash within
    * files so row groups carry tight min/max stats for the semi-join).
    */
  def saveExactIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("exact_md5", 32)).toDF("family", "hash_len")
      .write.mode("overwrite").parquet(s"$path/meta")
    exactGroups(docs, idCol, textCol)
      .select(col("content_hash"), col("keep_id").cast("long"),
        col("dup_cnt").cast("long"))
      .sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$path/index")
  }

  /** The stored partial-group relation back from [[saveExactIndex]],
    * meta validated plus the per-file probe (the [[loadMinhashIndex]]
    * discipline): a foreign-family append lands in its own new files,
    * so one row of each sampled file must carry a 32-hex md5 — wrong
    * key material would silently miss every duplicate.
    */
  def loadExactIndex(spark: SparkSession, path: String): DataFrame =
    loadExactIndexM(spark, path)._1

  /** [[loadExactIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadExactIndexM(spark: SparkSession,
      path: String): (DataFrame, IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadExactIndex",
      Some(("exact_md5", "screening against foreign key material would " +
        "silently miss every duplicate")),
      Seq("hash_len"))
    val hashLen = m.int("hash_len")
    val idx = Parquet.read(spark, s"$path/index")
    require(Seq("content_hash", "keep_id", "dup_cnt")
        .forall(idx.columns.contains),
      s"loadExactIndex: not an exact index at $path: ${idx.columns.mkString(",")}")
    probeEach(spark, s"$path/index") { f =>
      val r = Parquet.read(spark, f)
        .select(length(col("content_hash")),
          col("content_hash").rlike("^[0-9a-f]+$")).limit(1).collect()
      r.headOption.foreach { row =>
        require(!row.isNullAt(0) && row.getInt(0) == hashLen && row.getBoolean(1),
          s"loadExactIndex: file $f carries a non-md5 content_hash but " +
            s"meta says hash_len=$hashLen at $path")
      }
    }
    (idx, m)
  }

  /** Screen a batch against the stored exact index WITHOUT touching the
    * corpus text: per batch doc — its content hash, the canonical
    * `keep_id` across corpus ∪ batch (smallest id anywhere that content
    * was seen), the corpus occurrence count, and `keep` = this doc IS
    * the canonical occurrence. Relationally equal to [[exactGroups]]'
    * keep rule over corpus ∪ batch, restricted to batch rows.
    *
    * Shuffle ledger (the serving contract, `broadcastBatch = true` for
    * a bounded crawl increment): the batch's distinct hashes broadcast
    * and SEMI-FILTER the stored index scan, so only index rows whose
    * hash the batch actually carries are aggregated — per-batch
    * exchange cost tracks the batch, the corpus contributes one narrow
    * columnar scan and zero shuffles. The partial-group monoid
    * (min keep_id, sum dup_cnt) is combined per matching hash, so an
    * index holding N merged snapshots serves identically to a fresh
    * rebuild. `broadcastBatch = false` falls back to the symmetric
    * shuffle join for backfill-scale batches (see the bucketed form).
    */
  def exactAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val idx = loadExactIndex(spark, indexPath)
    exactScreenBody(newDocs, idx, idCol, textCol, broadcastBatch)
  }

  /** The screen body over an already-loaded partial-group relation —
    * shared by the plain and bucketed forms.
    */
  private def exactScreenBody(newDocs: DataFrame, idx: DataFrame,
      idCol: String, textCol: String, broadcastBatch: Boolean): DataFrame = {
    val batch = newDocs.select(col(idCol).cast("long").as("doc"),
      md5(col(textCol)).as("content_hash")).persistTracked()
    val bKeys = batch.select("content_hash").distinct()
    val matching =
      if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("content_hash"), "left_semi")
      else idx.join(bKeys, Seq("content_hash"), "left_semi")
    val stored = matching.groupBy("content_hash")
      .agg(min(col("keep_id")).as("__ck"), sum(col("dup_cnt")).as("__cn"))
    val batchMin = batch.groupBy("content_hash")
      .agg(min(col("doc")).as("__bm"))
    // a post-deletion key can hold copies with an UNKNOWN winner
    // (keep_id NULL, [[deleteFromExactIndex]]): an arriving copy is a
    // duplicate of retained corpus content and must NOT become keeper
    // — keep=false, keep_id NULL. Unreachable for never-deleted
    // indexes (their stored winners are never NULL while cnt > 0).
    val unknownWinner =
      col("__ck").isNull && coalesce(col("__cn"), lit(0L)) > 0
    batch
      .join(batchMin, Seq("content_hash"))
      .join(stored, Seq("content_hash"), "left")
      // Spark's least skips NULLs, so an index miss keeps the batch min
      .select(col("doc"), col("content_hash"),
        when(unknownWinner, lit(null).cast("long"))
          .otherwise(least(col("__ck"), col("__bm"))).as("keep_id"),
        coalesce(col("__cn"), lit(0L)).as("n_corpus"),
        when(unknownWinner, lit(false))
          .otherwise(col("doc") === least(col("__ck"), col("__bm")))
          .as("keep"))
  }

  /** Fold a batch INTO the stored exact index: the batch's own
    * [[exactGroups]] partials are APPENDED as new files — historical
    * rows are never rewritten (O(batch) fold), and readers' monoid
    * combine makes N appends serve identically to a fresh rebuild.
    * Fold the RAW batch (not just survivors): the corpus occurrence
    * count is part of the served relation, and a text that arrived
    * twice in one batch must count twice in crawl N+2's screen.
    */
  def mergeIntoExactIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoExactIndex")
    loadExactIndex(spark, indexPath) // validates family before writing
    exactGroups(newDocs, idCol, textCol)
      .select(col("content_hash"), col("keep_id").cast("long"),
        col("dup_cnt").cast("long"))
      .sortWithinPartitions("content_hash")
      .write.mode("append").parquet(s"$indexPath/index")
  }

  /** COMPACTION of a stored exact index (the read-amplification fix
    * every append-only partial-group store eventually needs): after N
    * [[mergeIntoExactIndex]] folds a hot key holds up to N rows and
    * every screen re-pays the combine; compaction runs the SAME
    * associative combine the screens run — min keep_id (skipping the
    * NULL winners deletion leaves behind, exactly as the serve's
    * min does), sum dup_cnt — once, and writes ONE row per key to a
    * NEW index at `outPath`. Pure rewrite: serving against the
    * compacted index returns byte-identical relations, and compact
    * after N folds ≡ a fresh rebuild of the same corpus, modulo the
    * deletion family's documented NULL-winner carryover. O(index),
    * never touches the corpus. outPath must differ (the half-rewritten
    * reader rule); the bloom sidecar survives semantically (the key
    * set is unchanged) but is NOT carried — it stamps against the old
    * index files; rebuild via [[buildExactBloom]].
    */
  def compactExactIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit = {
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "compactExactIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "compactExactIndex")
    val idx = loadExactIndex(spark, indexPath)
    import spark.implicits._
    Seq(("exact_md5", 32)).toDF("family", "hash_len")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    idx.groupBy("content_hash")
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("dup_cnt")).as("dup_cnt"))
      .sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** DELETION from a stored exact index (the right-to-be-forgotten /
    * takedown path every long-lived corpus index eventually needs —
    * opt-out requests arrive AFTER the index is built): subtract the
    * deleted docs' own recomputed partials and write a NEW index at
    * `outPath`.
    *
    * Why a rewrite, not a fold: the stored relation's (min keep_id,
    * sum dup_cnt) partial-group monoid is APPEND-only — a count could
    * subtract via a negative append, but a min can never be
    * retracted — so deletion combines totals once and rewrites,
    * O(index + deletes): one hash aggregate per side + one join on
    * content_hash, never a corpus rescan.
    *
    * Honest semantics, loudly enforced:
    *   - a key whose every contributor is deleted DISAPPEARS (screens
    *     stop flagging new copies — the content is forgotten);
    *   - a surviving key whose stored WINNER is among the deleted ids
    *     keeps its count but carries keep_id = NULL: the next-smallest
    *     retained id is not derivable from monoid state (it was folded
    *     away), and inventing one would be wrong. Screens treat such
    *     a key honestly: an arriving copy reports keep=false with
    *     keep_id NULL (it IS a duplicate of retained corpus content,
    *     just of an unknown winner — see [[exactScreenBody]]); callers
    *     that need a winner rebuild from the retained corpus;
    *   - deleting a doc the index never saw, or more copies of a key
    *     than it holds (a double delete), is an IN-PLAN error — the
    *     count would otherwise go silently negative;
    *   - the new index carries NO bloom sidecar even if the old one
    *     did: a Bloom filter cannot delete (clearing shared bits
    *     would create false negatives) — rebuild via
    *     [[buildExactBloom]], which stamps against the new files.
    */
  def deleteFromExactIndex(deletedDocs: DataFrame, indexPath: String,
      outPath: String, idCol: String, textCol: String): Unit = {
    val spark = deletedDocs.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromExactIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromExactIndex")
    val totals = loadExactIndex(spark, indexPath)
      .groupBy("content_hash")
      .agg(min(col("keep_id")).as("keep_id"), sum(col("dup_cnt")).as("dup_cnt"))
    val delDocs = deletedDocs.select(col(idCol).cast("long").as("__del_id"),
      md5(col(textCol)).as("content_hash"))
    // loud on duplicate ids in the delete list — they would both
    // double-subtract counts and fan out the winner join
    val nDel = delDocs.count()
    val nDelIds = delDocs.select("__del_id").distinct().count()
    require(nDel == nDelIds,
      s"deleteFromExactIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids — counts would double-subtract")
    // per-hash delete counts (bounded partial-aggregate state: one
    // count per hash — a viral deleted text collapses map-side), plus
    // a 1:1 winner-membership join (at most one delete row can carry
    // the stored winner's (hash, id), ids being unique)
    val del = delDocs.groupBy("content_hash")
      .agg(count(lit(1)).as("__del_cnt"))
    val winFlag = delDocs.select(col("content_hash").as("__wh"),
      col("__del_id"))
    // the misuse checks live INSIDE the projected count (raise_error
    // branches), not in separate filter(assert_true) nodes — the
    // optimizer may evaluate the cheap `> 0` predicate first and
    // silently drop exactly the rows that must fail
    val newCnt = col("dup_cnt") - coalesce(col("__del_cnt"), lit(0L))
    val checkedCnt =
      when(col("dup_cnt").isNull, raise_error(concat(
        lit("deleteFromExactIndex: delete list carries content the " +
          "index never saw (hash "), col("content_hash"),
        lit(") — wrong index or wrong delete list"))).cast("long"))
        .when(newCnt < 0, raise_error(concat(
          lit("deleteFromExactIndex: more copies deleted than the " +
            "index holds for hash "), col("content_hash"),
          lit(" — double delete or foreign corpus"))).cast("long"))
        .otherwise(newCnt)
    val out = totals.join(del, Seq("content_hash"), "full_outer")
      .join(winFlag, col("content_hash") === col("__wh") &&
        col("keep_id") === col("__del_id"), "left")
      .select(col("content_hash"),
        when(col("__del_id").isNotNull, lit(null).cast("long"))
          .otherwise(col("keep_id")).as("keep_id"),
        checkedCnt.as("dup_cnt"))
      .filter(col("dup_cnt") > 0)
    import spark.implicits._
    Seq(("exact_md5", 32)).toDF("family", "hash_len")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    out.sortWithinPartitions("content_hash")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** TAKEDOWN AUDIT — the verification half of the deletion loop: a
    * compliance reviewer holds the delete list and asks, per deleted
    * doc, what the rewritten index still knows. Three honest outcomes
    * per doc, all derivable from the index alone (no corpus access):
    *   - `still_present = false`: the content is fully forgotten —
    *     every copy was deleted, the key is gone;
    *   - `still_present = true` with `winner_forgotten = false`: OTHER
    *     retained docs carry the same content (the takedown removed
    *     this doc's copy, not the content — the correct outcome for
    *     shared text, and the reviewer sees the retained count);
    *   - `winner_forgotten = true`: this doc (or a fellow deletee) was
    *     the stored canonical winner — the key survives with
    *     keep_id NULL, and screens report its copies as duplicates of
    *     an unknown winner ([[exactScreenBody]]).
    * One hash projection + one broadcast-able join against the
    * combined partials — O(deletes) exchanges, the corpus contributes
    * one narrow index scan.
    */
  def takedownAudit(deletedDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = deletedDocs.sparkSession
    val idx = loadExactIndex(spark, indexPath)
    val del = deletedDocs.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("content_hash"))
    val bKeys = del.select("content_hash").distinct()
    val matching =
      if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("content_hash"), "left_semi")
      else idx.join(bKeys, Seq("content_hash"), "left_semi")
    val totals = matching.groupBy("content_hash")
      .agg(min(col("keep_id")).as("__k"), sum(col("dup_cnt")).as("__n"),
        max(when(col("keep_id").isNull, 1).otherwise(0)).as("__nullwin"))
    del.join(totals, Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        col("__n").isNotNull.as("still_present"),
        coalesce(col("__n"), lit(0L)).as("retained_copies"),
        (col("__n").isNotNull && col("__nullwin") === 1)
          .as("winner_forgotten"))
  }

  // ---- winnowing fingerprints (Schleimer et al. '03, the MOSS
  // scheme) -----------------------------------------------------------------
  //
  // The formatting-insensitive overlap detector the byte-level CDC
  // family cannot be: a reformatted block (tabs→spaces, joined or
  // re-wrapped lines) shifts every byte, so Gear boundaries re-sync
  // to DIFFERENT content — but its whitespace TOKEN stream is
  // unchanged, and winnowing fingerprints that stream. Guarantee
  // (the paper's, in token units): any shared run of ≥ w + k − 1
  // tokens selects at least one common fingerprint, while per-doc
  // storage is ~2/(w+1) of the gram count — the local-selection
  // property a plain "every j-th gram" sample lacks (a one-token
  // insertion shifts global positions; window minima re-align).

  /** The winnowing fingerprint SET of each doc: whitespace tokens
    * (lowercased — so ANY reformatting is invisible by construction),
    * the SEQUENTIAL k-token gram hashes (60-bit md5, the shingle
    * family's key space — order preserved, unlike a shingle SET),
    * then a w-gram sliding window keeping each window's MINIMUM hash;
    * distinct per doc. Docs with fewer than k + w − 1 tokens emit no
    * rows (no full window exists — they are under the guarantee
    * floor: any shared run of ≥ k + w − 1 tokens selects at least one
    * common fingerprint). Zero-shuffle until the caller's explode.
    * Output: (doc, fp).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1: $k, $w")
    // BOTH intermediate relations are MATERIALIZED: the optimizer does
    // not CSE array references inside higher-order lambdas, and
    // CollapseProject would inline the upstream projection into every
    // lambda element — tokens(text) into every GRAM's slice
    // (re-tokenizing the document once per gram: measured 22 s for
    // sf0.1's one query), and the gram transform into every WINDOW's
    // slice (re-hashing per window: measured minutes at sf0.1). Two
    // cached narrow relations break both collapses — the README's
    // shingle-trap discipline, one level deeper.
    val toks = docs.select(col(idCol).cast("long").as("doc"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .persistTracked()
    val grams = toks
      .withColumn("__g",
        when(size(col("__toks")) >= k, expr(
          s"transform(sequence(1, size(__toks) - ${k - 1}), " +
            s"i -> cast(conv(substring(md5(array_join(" +
            s"slice(__toks, i, $k), ' ')), 1, 15), 16, 10) as bigint))"))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .select(col("doc"), col("__g"))
      .persistTracked()
    grams
      .withColumn("__f",
        when(size(col("__g")) >= w,
          array_distinct(expr(
            s"transform(sequence(1, size(__g) - ${w - 1}), " +
              s"j -> array_min(slice(__g, j, $w)))")))
          .otherwise(expr("cast(array() as array<bigint>)")))
      .select(col("doc"), explode(col("__f")).as("fp"))
  }

  /** Pairwise fingerprint overlap — the plagiarism/clone report:
    * (doc_a, doc_b, n_shared) for pairs sharing ≥ `minShared`
    * distinct fingerprints. One equality self-join on fp (the shingle
    * family's shape); fingerprints with document frequency > maxDf
    * are dropped FIRST — a boilerplate fingerprint shared by the
    * whole corpus would pair quadratically, and a fingerprint that
    * common identifies nothing (the [[saveShingleIndex]] bound).
    */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4, minShared: Int = 4,
      maxDf: Int = 10000): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1, maxDf >= 2: $minShared, $maxDf")
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .persistTracked()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  // ---- winnow stored index (the ninth index family) ----------------------
  //
  // Cross-snapshot winnowing: crawl N's fingerprints persist once, and
  // crawl N+1 asks "which stored docs does this batch doc share
  // formatting-insensitive content with?" without re-fingerprinting
  // the corpus. Per-doc posting rows like the shingle family:
  // `$path/postings` (fp, doc) for fingerprints with build-time
  // df ≤ max_df + `$path/docs` (doc, n_fp). Meta pins the WINNOW
  // GEOMETRY (k, w): a batch fingerprinted under different gram or
  // window widths selects different minima and would silently stop
  // matching, so the screen takes its geometry FROM the stored meta.
  // Both relations are append-only (fold = the batch's own rows as
  // new files); the serving screen RE-DERIVES df over the matched
  // keys and applies the stored bound there, with the shingle
  // family's documented build-time-cut asymmetry.

  /** Persist the winnow fingerprint index of `docs` at `path`. */
  def saveWinnowIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 4, w: Int = 4, maxDf: Int = 10000): Unit = {
    require(k >= 2 && w >= 1 && maxDf >= 1,
      s"need k >= 2, w >= 1, maxDf >= 1: $k, $w, $maxDf")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("winnow_h60", 60, k, w, maxDf))
      .toDF("family", "key_bits", "k", "w", "max_df")
      .write.mode("overwrite").parquet(s"$path/meta")
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .persistTracked()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    kept.sortWithinPartitions("fp")
      .write.mode("overwrite").parquet(s"$path/postings")
    fps.groupBy("doc").agg(count(lit(1)).as("n_fp"))
      .write.mode("overwrite").parquet(s"$path/docs")
  }

  /** Load + validate a winnow index: family, the pinned (k, w)
    * geometry, df bound, the per-file 60-bit key probe. Returns
    * (postings, sizes, k, w, maxDf).
    */
  def loadWinnowIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int, Int, Int) =
    loadWinnowIndexM(spark, path)._1

  /** [[loadWinnowIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadWinnowIndexM(spark: SparkSession,
      path: String): ((DataFrame, DataFrame, Int, Int, Int), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadWinnowIndex",
      Some(("winnow_h60", "foreign key material would silently stop " +
        "matching batch fingerprints")),
      Seq("key_bits", "k", "w", "max_df"))
    val bits = m.int("key_bits")
    val postings = Parquet.read(spark, s"$path/postings")
    require(Seq("fp", "doc").forall(postings.columns.contains),
      s"loadWinnowIndex: not a postings relation at $path: " +
        postings.columns.mkString(","))
    val sizes = Parquet.read(spark, s"$path/docs")
    require(Seq("doc", "n_fp").forall(sizes.columns.contains),
      s"loadWinnowIndex: not a doc-size relation at $path: " +
        sizes.columns.mkString(","))
    probeEach(spark, s"$path/postings") { f =>
      val r = Parquet.read(spark, f).select(col("fp").cast("long"))
        .limit(1).collect()
      r.headOption.foreach { row =>
        val key = row.getLong(0)
        require(key >= 0 && key < (1L << bits),
          s"loadWinnowIndex: file $f carries key $key outside the " +
            s"$bits-bit family at $path")
      }
    }
    ((postings, sizes, m.int("k"), m.int("w"), m.int("max_df")), m)
  }

  /** Screen a batch against the stored winnow index: (doc_a = batch,
    * doc_b = corpus, n_shared) for pairs sharing ≥ `minShared`
    * distinct fingerprints — [[winnowOverlap]] restricted to
    * cross-split pairs, under the cross-snapshot serving contract.
    * Geometry comes FROM the stored meta; the df bound is re-derived
    * over the MATCHED keys (batch-bounded, the shingle-family
    * discipline and its documented fold asymmetry).
    *
    * Shuffle ledger (`broadcastBatch = true`, the serving contract):
    * the batch's distinct fingerprints broadcast and SEMI-FILTER the
    * narrow stored postings scan — the corpus contributes one
    * two-column columnar scan and zero exchanges; everything after is
    * proportional to the matched postings (≤ batch keys × maxDf).
    */
  def winnowAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, minShared: Int = 4,
      broadcastBatch: Boolean = true): DataFrame =
    winnowScreenBody(newDocs, indexPath, idCol, textCol, minShared,
      broadcastBatch, corpusBloom = None)

  private def winnowScreenBody(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, minShared: Int,
      broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter],
      postingsOverride: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val (postings0, _, k, w, maxDf) = loadWinnowIndex(spark, indexPath)
    val postings = postingsOverride.getOrElse(postings0)
    val bFps = winnowFingerprints(newDocs, idCol, textCol, k, w)
      .persistTracked()
    // sketch-negative fingerprints are DEFINITELY not stored — gating
    // the probe set loses nothing (they would match no posting anyway)
    val probe = corpusBloom match {
      case Some(bf) => bFps.filter(
        graft.functions.BloomMightContain(col("fp").cast("long"), bf))
      case None => bFps
    }
    val bKeys = probe.select("fp").distinct()
    val matched = (if (broadcastBatch)
        postings.join(broadcast(bKeys), Seq("fp"), "left_semi")
      else postings.join(bKeys, Seq("fp"), "left_semi"))
      .persistTracked()
    // serve-time df over the matched keys only (batch-bounded): the
    // union across folded snapshots must honor the stored bound
    val hot = matched.groupBy("fp").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("fp")
    val cold = matched.join(
      if (broadcastBatch) broadcast(hot) else hot, Seq("fp"), "left_anti")
    bFps.join(cold.withColumnRenamed("doc", "__cdoc"), Seq("fp"))
      .groupBy(col("doc").as("doc_a"), col("__cdoc").as("doc_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Row-local [[winnowFingerprints]] — the same tokens → k-gram
    * 60-bit md5 → w-window minima → distinct pipeline as plain Scala,
    * value-identical by construction (`hash60Local` is `hash60`'s
    * scalar twin). The STREAMING screen computes batch fingerprints
    * through this in a typed map: the expression form needs a
    * materialization barrier between the gram and window transforms
    * (see [[winnowFingerprints]]) and a streaming frame cannot
    * persist — a stateless per-row map has no such hazard.
    */
  def winnowLocal(text: String, k: Int, w: Int): Seq[Long] = {
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < k + w - 1) Seq.empty
    else {
      val grams = toks.sliding(k).map(g =>
        graft.pipeline.TextClassifier.hash60Local(g.mkString(" "))).toArray
      grams.sliding(w).map(_.min).toVector.distinct
    }
  }

  /** Fold a batch INTO the stored winnow index: the batch's own
    * df-capped postings and sizes append as new files — O(batch);
    * geometry from the stored meta.
    */
  def mergeIntoWinnowIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoWinnowIndex")
    val (_, _, k, w, maxDf) = loadWinnowIndex(spark, indexPath)
    val fps = winnowFingerprints(newDocs, idCol, textCol, k, w)
      .persistTracked()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    kept.sortWithinPartitions("fp")
      .write.mode("append").parquet(s"$indexPath/postings")
    fps.groupBy("doc").agg(count(lit(1)).as("n_fp"))
      .write.mode("append").parquet(s"$indexPath/docs")
  }

  /** [[deleteFromShingleIndex]] for the winnow family: per-doc posting
    * rows, so deletion is a plain id anti-join rewrite — the deleted
    * index serves exactly as one built on the retained corpus, up to
    * the same build-time df-cut asymmetry (deletion only NARROWS it).
    * Shared loud contract: unseen ids raise (checked against the
    * SIZES relation — a doc whose every fingerprint was df-cut still
    * has a size row), duplicate ids raise, outPath differs, bloom
    * sidecar rebuilt via [[buildWinnowBloom]], never carried.
    */
  def deleteFromWinnowIndex(deletedIds: DataFrame, indexPath: String,
      outPath: String, idCol: String): Unit = {
    val spark = deletedIds.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromWinnowIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromWinnowIndex")
    val (postings, sizes, k, w, maxDf) = loadWinnowIndex(spark, indexPath)
    val dels = deletedIds.select(col(idCol).cast("long").as("__del_id"))
      .persistTracked()
    val nDel = dels.count()
    val nDelIds = dels.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromWinnowIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids")
    val absent = dels.join(sizes.select(col("doc")),
      col("__del_id") === col("doc"), "left_anti").count()
    require(absent == 0,
      s"deleteFromWinnowIndex: $absent delete ids are absent from the " +
        "index — wrong index or wrong delete list (a silently no-op " +
        "takedown is a compliance bug)")
    import spark.implicits._
    Seq(("winnow_h60", 60, k, w, maxDf))
      .toDF("family", "key_bits", "k", "w", "max_df")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    postings.join(dels, col("doc") === col("__del_id"), "left_anti")
      .sortWithinPartitions("fp")
      .write.mode("overwrite").parquet(s"$outPath/postings")
    sizes.join(dels, col("doc") === col("__del_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/docs")
    dels.unpersist()
  }

  /** Build (or REBUILD after folds/deletions) the winnow index's bloom
    * sidecar over its stored fingerprint keys — the family's
    * [[buildShingleBloom]].
    */
  def buildWinnowBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    loadWinnowIndex(spark, indexPath) // family/meta/probe validation
    writeBloomSidecar(indexPath, s"$indexPath/postings",
      Parquet.read(spark, s"$indexPath/postings")
        .select(col("fp").cast("long").as("k")),
      "winnow_fp60", expectedItems, fpp)
  }

  def loadWinnowBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/postings",
      "winnow_fp60", "buildWinnowBloom")

  /** [[winnowAgainstIndex]] with the bloom fast path — identical pairs
    * (no false negatives), stored postings probed only by the
    * sketch-positive batch fingerprints.
    */
  def winnowAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, minShared: Int = 4,
      broadcastBatch: Boolean = true): DataFrame =
    winnowScreenBody(newDocs, indexPath, idCol, textCol, minShared,
      broadcastBatch,
      Some(loadWinnowBloom(newDocs.sparkSession, indexPath)))

  /** [[saveWinnowIndex]] in the backfill layout: postings
    * bucketBy(fp) as an external catalog table, meta additionally
    * pins n_buckets; [[winnowAgainstIndexBucketed]]'s semi-filter and
    * candidate join consume the table's own hash partitioning — the
    * corpus side never exchanges even at backfill-scale batches.
    */
  def saveWinnowIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, path: String, k: Int = 4, w: Int = 4,
      maxDf: Int = 10000, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    require(k >= 2 && w >= 1 && maxDf >= 1,
      s"need k >= 2, w >= 1, maxDf >= 1: $k, $w, $maxDf")
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("winnow_h60", 60, k, w, maxDf, nBuckets))
      .toDF("family", "key_bits", "k", "w", "max_df", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    val fps = winnowFingerprints(docs, idCol, textCol, k, w)
      .persistTracked()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    BucketedTables.saveBucketed(kept, s"$path/postings",
      s"${prefix}_winnow", Seq("fp"), nBuckets)
    fps.groupBy("doc").agg(count(lit(1)).as("n_fp"))
      .write.mode("overwrite").parquet(s"$path/docs")
  }

  /** Backfill-scale twin of [[winnowAgainstIndex]]: identical
    * relation, stored postings consumed through the bucketed catalog
    * table — only the batch shuffles.
    */
  def winnowAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, minShared: Int = 4,
      tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    // family + geometry + probe; n_buckets from the same one-row read
    val (_, m) = loadWinnowIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "winnowAgainstIndexBucketed",
      indexPath, "winnowAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_winnow",
      s"$indexPath/postings", Seq("fp"), nBuckets)
    winnowScreenBody(newDocs, indexPath, idCol, textCol, minShared,
      broadcastBatch = false, corpusBloom = None,
      postingsOverride = Some(spark.table(s"${prefix}_winnow")))
  }

  /** [[mergeIntoWinnowIndex]] for the bucketed layout. */
  def mergeIntoWinnowIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((_, _, k, w, maxDf), m) = loadWinnowIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoWinnowIndexBucketed",
      indexPath, "mergeIntoWinnowIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    val fps = winnowFingerprints(newDocs, idCol, textCol, k, w)
      .persistTracked()
    val kept = fps.join(
      fps.groupBy("fp").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("fp"),
      Seq("fp"), "left_semi")
    BucketedTables.appendBucketed(kept, s"$indexPath/postings",
      s"${prefix}_winnow", Seq("fp"), nBuckets)
    fps.groupBy("doc").agg(count(lit(1)).as("n_fp"))
      .write.mode("append").parquet(s"$indexPath/docs")
  }

  // ---- edit-distance near-dup (short keys: titles, prompts) --------------
  //
  // The instruction/prompt dedup regime: two strings are duplicates
  // when their LEVENSHTEIN distance is ≤ k — shingle Jaccard is blind
  // here (a one-char edit in a 20-char prompt rewrites every 3-shingle
  // spanning it), and all-pairs verify is corpus-quadratic. Blocking
  // is the symmetric-deletion scheme (FastSS / SymSpell): every string
  // emits its deletion variants with ≤ k code points removed, and
  // ed(a, b) ≤ k  ⟹  D_k(a) ∩ D_k(b) ≠ ∅ — each edit is absorbed by
  // deleting the edited position from one or both sides — so a plain
  // EQUALITY join on variants is a LOSSLESS candidate generator, and
  // the verify (Spark's codegen levenshtein, threshold form) only
  // confirms. Variant count is len+1 at k=1 and O(len²) at k=2, which
  // is why the operator contracts a SHORT key column and enforces it
  // loudly.

  /** All pairs within Levenshtein distance `maxEdits` over a SHORT key
    * column. Candidates from the symmetric-deletion equality join
    * (lossless, see the family note), verified with the threshold
    * levenshtein — O(k × |key|) per candidate, codegen. Keys longer
    * than `lenCap` code points raise in-plan: the variant set is
    * len-linear (k=1) to len-quadratic (k=2), and a silent 10 KB
    * "title" would explode the join, not miss pairs. True duplicate
    * GROUPS pair quadratically in group size — that is the answer,
    * not a skew accident. Output: (doc_a, doc_b, edit_dist).
    */
  def editDistancePairs(docs: DataFrame, idCol: String, textCol: String,
      maxEdits: Int = 1, lenCap: Int = 256): DataFrame = {
    require(maxEdits >= 1 && maxEdits <= 2,
      s"editDistancePairs supports maxEdits in {1, 2} (variant count " +
        s"is len^k per key): $maxEdits")
    // variants ride HASHED (60-bit) through the self-join — a hash
    // collision only adds a candidate the levenshtein verify kills,
    // so losslessness is preserved and the shuffle key stays narrow
    val exploded = checkedTitles(docs, idCol, textCol, maxEdits, lenCap)
      .select(col("doc"), col("__t"),
        explode(symdelVariantHashes(maxEdits)).as("__v"))
      .persistTracked()
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.__v") === col("b.__v") && col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        col("a.__t").as("__ta"), col("b.__t").as("__tb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxEdits).as("__d"))
      .filter(col("__d") >= 0)
      .select(col("doc_a"), col("doc_b"),
        col("__d").cast("long").as("edit_dist"))
  }

  // ---- edit-distance stored index (the title/prompt family) --------------
  //
  // Cross-snapshot form of [[editDistancePairs]]: a curated prompt/
  // title corpus is indexed once, and each arriving batch asks "is
  // this within k edits of something we already hold?" without
  // re-deriving corpus variants. Stored relations: `$path/titles`
  // (doc, title — the verify side) + `$path/variants` (vh, doc) with
  // vh = hash60(deletion variant): equal variants hash equal, so
  // hashing keeps the postings narrow WITHOUT breaking the symdel
  // losslessness (a hash collision only adds a candidate the
  // levenshtein verify kills). Meta pins (max_edits, len_cap) — a
  // batch blocked at a different k generates a different variant set
  // and would silently miss pairs, so the screen takes both FROM the
  // stored meta.

  /** Deletion-variant hashes of `__t` as an array column (the symdel
    * blocking set, hashed): the string itself + 1-deletions
    * (+ 2-deletions at maxEdits 2), distinct BEFORE hashing.
    */
  private def symdelVariantHashes(maxEdits: Int): Column = {
    val del1 = expr("transform(sequence(1, length(__t)), i -> " +
      "concat(substring(__t, 1, i - 1), " +
      "substring(__t, i + 1, length(__t))))")
    val vars0 = concat(array(col("__t")), del1)
    val vars =
      if (maxEdits == 1) array_distinct(vars0)
      else array_distinct(concat(vars0,
        flatten(expr("transform(transform(sequence(1, length(__t)), i -> " +
          "concat(substring(__t, 1, i - 1), " +
          "substring(__t, i + 1, length(__t)))), s -> " +
          "transform(sequence(1, length(s)), j -> " +
          "concat(substring(s, 1, j - 1), " +
          "substring(s, j + 1, length(s)))))"))))
    transform(vars, v => TextOps.hash60(v))
  }

  /** Row-local [[symdelVariantHashes]] — the distinct deletion
    * variants of `text` (≤ maxEdits code points removed), 60-bit
    * hashed, value-identical to the expression form by construction
    * (`hash60Local` is `hash60`'s scalar twin; deletions are by CODE
    * POINT, matching Spark's substring semantics). The streaming
    * screen's batch side.
    */
  def symdelLocal(text: String, maxEdits: Int): Seq[Long] = {
    val cps = text.codePoints().toArray
    def drop1(s: Array[Int]): Seq[Array[Int]] =
      s.indices.map(i => s.patch(i, Nil, 1))
    val d1 = drop1(cps)
    val all = (Seq(cps) ++ d1 ++
      (if (maxEdits >= 2) d1.flatMap(drop1) else Nil))
      .map(a => new String(a, 0, a.length)).distinct
    all.map(graft.pipeline.TextClassifier.hash60Local)
  }

  /** Title column with the loud length cap. NULL titles coalesce to
    * '' (the chunkFixed discipline): two absent keys ARE identical —
    * they pair at distance 0 — and length(NULL) would otherwise take
    * the raise_error branch with a misleading over-cap message.
    */
  private def checkedTitles(docs: DataFrame, idCol: String,
      textCol: String, maxEdits: Int, lenCap: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("doc"),
      when(length(coalesce(col(textCol), lit(""))) <= lenCap,
        coalesce(col(textCol), lit("")))
        .otherwise(raise_error(concat(
          lit(s"editdist index: key longer than lenCap=$lenCap code " +
            "points — deletion-variant blocking is for SHORT keys " +
            "(titles, prompts); raise lenCap only with the len^"),
          lit(maxEdits.toString), lit(" variant cost understood"))))
        .as("__t"))

  /** Persist the edit-distance index of `docs` at `path`. */
  def saveEditDistIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, maxEdits: Int = 1, lenCap: Int = 256): Unit = {
    require(maxEdits >= 1 && maxEdits <= 2,
      s"saveEditDistIndex supports maxEdits in {1, 2}: $maxEdits")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("editdist_symdel60", 60, maxEdits, lenCap))
      .toDF("family", "key_bits", "max_edits", "len_cap")
      .write.mode("overwrite").parquet(s"$path/meta")
    val t = checkedTitles(docs, idCol, textCol, maxEdits, lenCap)
      .persistTracked()
    t.select(col("doc"), col("__t").as("title"))
      .write.mode("overwrite").parquet(s"$path/titles")
    t.select(col("doc"), explode(symdelVariantHashes(maxEdits)).as("vh"))
      .sortWithinPartitions("vh")
      .write.mode("overwrite").parquet(s"$path/variants")
  }

  /** Load + validate an edit-distance index. Returns
    * (titles, variants, maxEdits, lenCap).
    */
  def loadEditDistIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int, Int) =
    loadEditDistIndexM(spark, path)._1

  /** [[loadEditDistIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadEditDistIndexM(spark: SparkSession,
      path: String): ((DataFrame, DataFrame, Int, Int), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadEditDistIndex",
      Some(("editdist_symdel60", "foreign key material would silently " +
        "stop matching batch variants")),
      Seq("key_bits", "max_edits", "len_cap"))
    val bits = m.int("key_bits")
    val titles = Parquet.read(spark, s"$path/titles")
    require(Seq("doc", "title").forall(titles.columns.contains),
      s"loadEditDistIndex: not a titles relation at $path: " +
        titles.columns.mkString(","))
    val variants = Parquet.read(spark, s"$path/variants")
    require(Seq("vh", "doc").forall(variants.columns.contains),
      s"loadEditDistIndex: not a variants relation at $path: " +
        variants.columns.mkString(","))
    probeEach(spark, s"$path/variants") { f =>
      val r = Parquet.read(spark, f).select(col("vh").cast("long"))
        .limit(1).collect()
      r.headOption.foreach { row =>
        val key = row.getLong(0)
        require(key >= 0 && key < (1L << bits),
          s"loadEditDistIndex: file $f carries key $key outside the " +
            s"$bits-bit family at $path")
      }
    }
    ((titles, variants, m.int("max_edits"), m.int("len_cap")), m)
  }

  /** Screen a batch against the stored edit-distance index: (doc_a =
    * batch, doc_b = corpus, edit_dist) for pairs within the STORED
    * maxEdits — [[editDistancePairs]] restricted to cross-split
    * pairs. Shuffle ledger (`broadcastBatch = true`, the serving
    * contract): the batch's distinct variant hashes broadcast and
    * SEMI-FILTER the narrow stored variants scan; candidates join
    * back to the stored titles only for the levenshtein verify —
    * every exchange after the semi-filter is candidate-proportional.
    */
  def editDistanceAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    editDistScreenBody(newDocs, indexPath, idCol, textCol,
      broadcastBatch, corpusBloom = None)

  private def editDistScreenBody(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter],
      variantsOverride: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val (titles, variants0, maxEdits, lenCap) =
      loadEditDistIndex(spark, indexPath)
    val variants = variantsOverride.getOrElse(variants0)
    val batch = checkedTitles(newDocs, idCol, textCol, maxEdits, lenCap)
      .persistTracked()
    val bVars0 = batch
      .select(col("doc"), explode(symdelVariantHashes(maxEdits)).as("vh"))
      .persistTracked()
    // sketch-negative variant hashes are DEFINITELY not stored —
    // gating the probe set loses nothing (no posting to match)
    val bVars = corpusBloom match {
      case Some(bf) => bVars0.filter(
        graft.functions.BloomMightContain(col("vh").cast("long"), bf))
      case None => bVars0
    }
    val bKeys = bVars.select("vh").distinct()
    val matched = (if (broadcastBatch)
        variants.join(broadcast(bKeys), Seq("vh"), "left_semi")
      else variants.join(bKeys, Seq("vh"), "left_semi"))
    val cands = bVars
      .join(matched.withColumnRenamed("doc", "__cdoc"), Seq("vh"))
      .select(col("doc").as("doc_a"), col("__cdoc").as("doc_b"))
      .distinct()
    cands
      .join(batch.select(col("doc").as("doc_a"), col("__t").as("__ta")),
        Seq("doc_a"))
      .join(titles.select(col("doc").as("doc_b"), col("title").as("__tb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("__ta"), col("__tb"), maxEdits).as("__d"))
      .filter(col("__d") >= 0)
      .select(col("doc_a"), col("doc_b"),
        col("__d").cast("long").as("edit_dist"))
  }

  /** Build (or REBUILD after folds/deletions) the edit-distance
    * index's bloom sidecar over its stored variant hashes.
    */
  def buildEditDistBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    loadEditDistIndex(spark, indexPath) // family/meta/probe validation
    writeBloomSidecar(indexPath, s"$indexPath/variants",
      Parquet.read(spark, s"$indexPath/variants")
        .select(col("vh").cast("long").as("k")),
      "editdist_vh60", expectedItems, fpp)
  }

  def loadEditDistBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/variants",
      "editdist_vh60", "buildEditDistBloom")

  /** [[editDistanceAgainstIndex]] with the bloom fast path — identical
    * pairs (no false negatives).
    */
  def editDistanceAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    editDistScreenBody(newDocs, indexPath, idCol, textCol,
      broadcastBatch,
      Some(loadEditDistBloom(newDocs.sparkSession, indexPath)))

  /** [[saveEditDistIndex]] in the backfill layout: variants
    * bucketBy(vh) as an external catalog table, titles plain, meta
    * additionally pins n_buckets.
    */
  def saveEditDistIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, path: String, maxEdits: Int = 1,
      lenCap: Int = 256, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    require(maxEdits >= 1 && maxEdits <= 2,
      s"saveEditDistIndexBucketed supports maxEdits in {1, 2}: $maxEdits")
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("editdist_symdel60", 60, maxEdits, lenCap, nBuckets))
      .toDF("family", "key_bits", "max_edits", "len_cap", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    val t = checkedTitles(docs, idCol, textCol, maxEdits, lenCap)
      .persistTracked()
    t.select(col("doc"), col("__t").as("title"))
      .write.mode("overwrite").parquet(s"$path/titles")
    BucketedTables.saveBucketed(
      t.select(col("doc"), explode(symdelVariantHashes(maxEdits)).as("vh")),
      s"$path/variants", s"${prefix}_editdist", Seq("vh"), nBuckets)
  }

  /** Backfill-scale twin of [[editDistanceAgainstIndex]]: identical
    * relation, stored variants consumed through the bucketed catalog
    * table — only the batch shuffles.
    */
  def editDistanceAgainstIndexBucketed(newDocs: DataFrame,
      indexPath: String, idCol: String, textCol: String,
      tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    // family + geometry + probe; n_buckets from the same one-row read
    val (_, m) = loadEditDistIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "editDistanceAgainstIndexBucketed",
      indexPath, "editDistanceAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_editdist",
      s"$indexPath/variants", Seq("vh"), nBuckets)
    editDistScreenBody(newDocs, indexPath, idCol, textCol,
      broadcastBatch = false, corpusBloom = None,
      variantsOverride = Some(spark.table(s"${prefix}_editdist")))
  }

  /** [[mergeIntoEditDistIndex]] for the bucketed layout. */
  def mergeIntoEditDistIndexBucketed(newDocs: DataFrame,
      indexPath: String, idCol: String, textCol: String,
      tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((_, _, maxEdits, lenCap), m) = loadEditDistIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoEditDistIndexBucketed",
      indexPath, "mergeIntoEditDistIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    val t = checkedTitles(newDocs, idCol, textCol, maxEdits, lenCap)
      .persistTracked()
    t.select(col("doc"), col("__t").as("title"))
      .write.mode("append").parquet(s"$indexPath/titles")
    BucketedTables.appendBucketed(
      t.select(col("doc"), explode(symdelVariantHashes(maxEdits)).as("vh")),
      s"$indexPath/variants", s"${prefix}_editdist", Seq("vh"), nBuckets)
  }

  /** Fold a batch INTO the stored edit-distance index — O(batch),
    * geometry from the stored meta.
    */
  def mergeIntoEditDistIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoEditDistIndex")
    val (_, _, maxEdits, lenCap) = loadEditDistIndex(spark, indexPath)
    val t = checkedTitles(newDocs, idCol, textCol, maxEdits, lenCap)
      .persistTracked()
    t.select(col("doc"), col("__t").as("title"))
      .write.mode("append").parquet(s"$indexPath/titles")
    t.select(col("doc"), explode(symdelVariantHashes(maxEdits)).as("vh"))
      .sortWithinPartitions("vh")
      .write.mode("append").parquet(s"$indexPath/variants")
  }

  /** [[deleteFromShingleIndex]] for the edit-distance family: per-doc
    * rows in both relations — a plain id anti-join rewrite, the
    * deleted index serves exactly as a retained rebuild. Shared loud
    * contract (unseen ids checked against the titles relation).
    */
  def deleteFromEditDistIndex(deletedIds: DataFrame, indexPath: String,
      outPath: String, idCol: String): Unit = {
    val spark = deletedIds.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromEditDistIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromEditDistIndex")
    val (titles, variants, maxEdits, lenCap) =
      loadEditDistIndex(spark, indexPath)
    val dels = deletedIds.select(col(idCol).cast("long").as("__del_id"))
      .persistTracked()
    val nDel = dels.count()
    val nDelIds = dels.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromEditDistIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids")
    val absent = dels.join(titles.select(col("doc")),
      col("__del_id") === col("doc"), "left_anti").count()
    require(absent == 0,
      s"deleteFromEditDistIndex: $absent delete ids are absent from " +
        "the index — wrong index or wrong delete list (a silently " +
        "no-op takedown is a compliance bug)")
    import spark.implicits._
    Seq(("editdist_symdel60", 60, maxEdits, lenCap))
      .toDF("family", "key_bits", "max_edits", "len_cap")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    titles.join(dels, col("doc") === col("__del_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/titles")
    variants.join(dels, col("doc") === col("__del_id"), "left_anti")
      .sortWithinPartitions("vh")
      .write.mode("overwrite").parquet(s"$outPath/variants")
    dels.unpersist()
  }

  // ---- bloom sidecar for the exact index ---------------------------------
  //
  // The frontier FAST PATH: at crawl scale the overwhelming majority of
  // an arriving batch is NEW content, and a membership sketch answers
  // "definitely new" from memory with zero index I/O — only the
  // sketch-positive minority (true duplicates + the configured
  // false-positive rate) pays the exact stored-index confirm. Because a
  // Bloom filter has NO false negatives, the bloom-gated screen returns
  // the IDENTICAL relation to [[exactAgainstIndex]] — which is what the
  // oracle states. Sizing: ~9.6 bits/key at 1% fpp (a 1B-key frontier
  // sketch is ~1.2 GB — broadcastable; shard the corpus/sketch above
  // that, the production frontier practice).

  /** Hard ceiling on a sidecar sketch's serialized size (~1.2 GB ≈ the
    * 1B-key / 1% fpp point). The sketch rides as a plan reference
    * object, so task-binary bloat arrives BEFORE broadcast limits do —
    * above this, shard the corpus (index + sketch) by key range and
    * screen each shard independently, the production frontier practice.
    * Builders `require` the projected size up front so the failure is
    * loud at build time, not a mystery slowdown at serve time.
    */
  private[pipeline] val MaxBloomSketchBytes: Long = 1300L * 1024 * 1024

  /** Projected serialized size of an optimal Bloom sketch:
    * bits = −n·ln(fpp)/ln²2 (≈ 9.6 bits/key at 1% fpp).
    */
  private[pipeline] def bloomSketchBytes(expectedItems: Long, fpp: Double): Long =
    math.ceil(-expectedItems.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2)) / 8.0).toLong

  /** Shared sidecar writer for EVERY index family: one distributed
    * sketch over `keys` (a single LONG column `k`), persisted at
    * `$indexPath/bloom` with a family tag and a drift stamp (file count
    * + total bytes of `stampDir` at build time). An index that gained
    * files since the sketch was built would make it silently miss the
    * folded batch's duplicates — so [[readBloomSidecar]] fails loudly
    * instead (rebuild costs one linear key scan, the same cost class as
    * the fold that invalidated it).
    */
  private[pipeline] def writeBloomSidecar(indexPath: String, stampDir: String,
      keys: DataFrame, family: String, expectedItems: Long,
      fpp: Double): Unit = {
    val spark = keys.sparkSession
    import spark.implicits._
    val projected = bloomSketchBytes(expectedItems, fpp)
    require(projected <= MaxBloomSketchBytes,
      s"bloom sidecar at $indexPath: expectedItems=$expectedItems at " +
        s"fpp=$fpp projects a $projected-byte sketch, over the " +
        s"$MaxBloomSketchBytes-byte ceiling — a sketch that size bloats " +
        "every task binary; SHARD the corpus (index + sketch) by key " +
        "range and screen the shards independently")
    val bloom = keys.stat.bloomFilter(col("k"), expectedItems, fpp)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (nFiles, nBytes) = indexStamp(fs, stampDir)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$indexPath/bloom/filter.bin"), true)
    try bloom.writeTo(out) finally out.close()
    Seq((family, expectedItems, fpp, nFiles, nBytes))
      .toDF("family", "expected_items", "fpp",
        "n_index_files", "n_index_bytes")
      .write.mode("overwrite").parquet(s"$indexPath/bloom/meta")
  }

  private def indexStamp(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): (Long, Long) = {
    val sts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (sts.length.toLong, sts.map(_.getLen).sum)
  }

  /** Shared sidecar reader: validates presence, FAMILY (a sketch built
    * over a different key derivation would probe garbage — definitely-
    * new answers become wrong silently) and the drift stamp, then
    * deserializes the sketch. `builder` names the build entry point in
    * every error message.
    */
  private[pipeline] def readBloomSidecar(spark: SparkSession,
      indexPath: String, stampDir: String, family: String,
      builder: String): org.apache.spark.util.sketch.BloomFilter = {
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaP = new org.apache.hadoop.fs.Path(s"$indexPath/bloom/meta")
    require(fs.exists(metaP),
      s"no bloom sidecar at $indexPath/bloom — run $builder first")
    val metaDf = Parquet.read(spark, s"$indexPath/bloom/meta")
    require(metaDf.columns.contains("family"),
      s"bloom sidecar at $indexPath/bloom predates the family tag — " +
        s"re-run $builder to rebuild it")
    val meta = metaDf.select(col("family").cast("string"),
      col("n_index_files").cast("long"),
      col("n_index_bytes").cast("long")).head()
    require(meta.getString(0) == family,
      s"bloom sidecar at $indexPath/bloom was built over key family " +
        s"'${meta.getString(0)}', not '$family' — probing it with " +
        s"differently-derived keys answers garbage; re-run $builder")
    val (nFiles, nBytes) = indexStamp(fs, stampDir)
    require(meta.getLong(1) == nFiles && meta.getLong(2) == nBytes,
      s"the index at $indexPath changed since the bloom was built " +
        s"(files ${meta.getLong(1)} → $nFiles, bytes " +
        s"${meta.getLong(2)} → $nBytes) — a stale sketch would silently " +
        s"miss the folded batch's duplicates; re-run $builder")
    val in = fs.open(
      new org.apache.hadoop.fs.Path(s"$indexPath/bloom/filter.bin"))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** Build (or REBUILD after folds) the exact index's bloom sidecar
    * over `xxhash64(content_hash)` — see [[writeBloomSidecar]].
    */
  def buildExactBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val idx = loadExactIndex(spark, indexPath)
    writeBloomSidecar(indexPath, s"$indexPath/index",
      idx.select(xxhash64(col("content_hash")).as("k")),
      "exact_xxhash64", expectedItems, fpp)
  }

  /** The bloom sidecar back from [[buildExactBloom]] — FAILS if the
    * index gained/changed files since the sketch was built (a stale
    * sketch has false negatives for the folded batch, the one failure
    * mode a dedup screen must never have).
    */
  def loadExactBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/index",
      "exact_xxhash64", "buildExactBloom")

  /** [[exactAgainstIndex]] with the bloom fast path: batch hashes that
    * the sketch rules out NEVER reach the stored-index lookup — they
    * take the miss branch (n_corpus = 0, keep decided within the batch)
    * directly. No false negatives ⇒ the returned relation is IDENTICAL
    * to the unbloomed screen; the sketch-positive minority (true dups +
    * fpp of the fresh mass) pays the exact confirm. The in-memory
    * `maybe_dup` split itself is also exposed as
    * [[bloomFrontierFlags]] for zero-index-I/O scheduling decisions.
    */
  def exactAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val bloom = loadExactBloom(spark, indexPath)
    val idx = loadExactIndex(spark, indexPath)
    val batch = newDocs.select(col(idCol).cast("long").as("doc"),
      md5(col(textCol)).as("content_hash"))
      .withColumn("__maybe", graft.functions.BloomMightContain(
        xxhash64(col("content_hash")), bloom))
      .persistTracked()
    // only sketch-positive hashes consult the stored index
    val bKeys = batch.filter(col("__maybe"))
      .select("content_hash").distinct()
    val matching =
      if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("content_hash"), "left_semi")
      else idx.join(bKeys, Seq("content_hash"), "left_semi")
    val stored = matching.groupBy("content_hash")
      .agg(min(col("keep_id")).as("__ck"), sum(col("dup_cnt")).as("__cn"))
    val batchMin = batch.groupBy("content_hash")
      .agg(min(col("doc")).as("__bm"))
    batch
      .join(batchMin, Seq("content_hash"))
      .join(stored, Seq("content_hash"), "left")
      .select(col("doc"), col("content_hash"),
        least(col("__ck"), col("__bm")).as("keep_id"),
        coalesce(col("__cn"), lit(0L)).as("n_corpus"),
        (col("doc") === least(col("__ck"), col("__bm"))).as("keep"))
  }

  /** The pure in-memory frontier split — zero index I/O: per batch doc,
    * `maybe_dup` = the sketch cannot rule it out (true duplicate or a
    * false positive at the build fpp), `false` = DEFINITELY new. The
    * scheduling primitive: route maybe-dups to the exact confirm queue,
    * fetch the rest immediately.
    */
  def bloomFrontierFlags(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): DataFrame = {
    val bloom = loadExactBloom(newDocs.sparkSession, indexPath)
    newDocs.select(col(idCol).cast("long").as("doc"),
      md5(col(textCol)).as("content_hash"))
      .withColumn("maybe_dup", graft.functions.BloomMightContain(
        xxhash64(col("content_hash")), bloom))
  }

  /** [[saveExactIndex]] in the backfill layout: the same partial-group
    * relation at the same path, `bucketBy(content_hash)` as an external
    * catalog table (still plain-parquet readable), meta additionally
    * pins n_buckets. [[exactAgainstIndexBucketed]]'s semi-filter and
    * combine then run with ZERO corpus-side exchanges at any batch
    * size (see [[BucketedTables]]).
    */
  def saveExactIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("exact_md5", 32, nBuckets)).toDF("family", "hash_len", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(
      exactGroups(docs, idCol, textCol)
        .select(col("content_hash"), col("keep_id").cast("long"),
          col("dup_cnt").cast("long")),
      s"$path/index", s"${prefix}_exact", Seq("content_hash"), nBuckets)
  }

  /** The backfill-scale exact screen: identical relation to
    * [[exactAgainstIndex]], but the stored side is the bucketed catalog
    * table — the per-hash combine and the batch semi-join both consume
    * the table's own hash partitioning, so the corpus side never
    * exchanges; only the batch shuffles (into nBuckets partitions).
    */
  def exactAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    // meta + per-file probe; n_buckets from the same one-row read (r14)
    val (_, m) = loadExactIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "exactAgainstIndexBucketed",
      indexPath, "exactAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_exact", s"$indexPath/index",
      Seq("content_hash"), nBuckets)
    exactScreenBody(newDocs, spark.table(s"${prefix}_exact"),
      idCol, textCol, broadcastBatch = false)
  }

  /** [[mergeIntoExactIndex]] for the bucketed layout: the batch
    * partials are appended through the catalog table (insertInto), so
    * new files carry correct bucket ids.
    */
  def mergeIntoExactIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val (_, m) = loadExactIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoExactIndexBucketed",
      indexPath, "mergeIntoExactIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.appendBucketed(
      exactGroups(newDocs, idCol, textCol)
        .select(col("content_hash"), col("keep_id").cast("long"),
          col("dup_cnt").cast("long")),
      s"$indexPath/index", s"${prefix}_exact", Seq("content_hash"), nBuckets)
  }

  // ---- shingling -------------------------------------------------------

  /** Distinct word n-gram shingles of a token-array column (empty when
    * the doc has fewer than n tokens), built with n unrolled
    * `element_at` reads per position.
    *
    * IMPORTANT: `toks` must be a MATERIALIZED column reference, not an
    * inline `tokens(text)` expression — Catalyst does not CSE an
    * expression referenced inside a lambda, so an inline tokenizer
    * re-runs per element_at per shingle (measured 20× slower at sf0.1).
    * Use [[shingleSets]] which materializes the tokens first.
    */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(d => element_at(toks, i + d)): _*))))
      .otherwise(array().cast("array<string>"))

  /** (doc, sh) with the tokens materialized before shingling; docs with
    * no shingles are dropped. The emptiness filter tests the TOKEN count
    * (equivalent, lambda-free): filtering on `size(sh) > 0` would inline
    * the whole shingle lambda into the predicate, where Catalyst's
    * no-CSE-in-lambdas behavior re-tokenizes per element (13× slower).
    */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docs.select(col(idCol).as("doc"), tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) >= n)
      .withColumn("sh", shingles(col("__toks"), n))
      .select("doc", "sh")

  /** Shared intersection core of [[jaccardPairs]]/[[containmentPairs]]:
    * (doc_a, doc_b, inter) with doc_a < doc_b over `withSh(doc, sh)`.
    *
    * Hot-shingle cutoff (`maxDf`): a shingle present in m docs emits
    * m(m-1)/2 intersection pairs, and real corpora are power-law — one
    * boilerplate sentence shared by half the corpus turns the inverted
    * index quadratic. Dropping shingles with document frequency > maxDf
    * bounds per-shingle fan-out, at the cost of treating ubiquitous
    * shingles as non-evidence: pairs sharing ONLY hot shingles are
    * missed, and they no longer count toward intersections (while n_sh
    * keeps the full set size), so reported similarity is a lower bound
    * of the true value. Default off so the exact form stays
    * oracle-parity.
    *
    * Two physical shapes with IDENTICAL output:
    *  - exact (maxDf = ∞): shingle-keyed equality self-join — unbounded
    *    groups forbid materializing a per-shingle doc list;
    *  - bounded: ONE shuffle of the (doc, shingle) relation into a
    *    CAPPED per-shingle doc list ([[graft.functions.CappedCollectLong]]
    *    with cap = maxDf+1 — a group whose result exceeds maxDf is
    *    known to have overflowed and is filtered; a surviving group
    *    held every occurrence, so output is exactly the df ≤ maxDf
    *    groups), then an i<j combination HOF. The round-6 shape (df
    *    count shuffle + semi-join + self-join) moved the full exploded
    *    relation through three exchanges and emitted every candidate
    *    twice; this is one exchange and half the candidate rows.
    *    Non-BIGINT doc ids (the capped aggregate is primitive-long)
    *    take the same shape via df-filter + collect_list.
    */
  private def pairIntersections(withSh: DataFrame, maxDf: Int): DataFrame = {
    val allShingles = withSh.select(col("doc"), explode(col("sh")).as("s"))
    if (maxDf == Int.MaxValue) {
      allShingles.as("a")
        .join(allShingles.as("b"),
          col("a.s") === col("b.s") && col("a.doc") < col("b.doc"))
        .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
    } else {
      val ds = col("ds")
      val grouped =
        if (withSh.schema("doc").dataType == org.apache.spark.sql.types.LongType) {
          val cap = math.min(maxDf, Int.MaxValue - 1) + 1
          allShingles.groupBy("s")
            .agg(graft.functions.CappedCollectLong(col("doc"), cap).as("ds"))
            .filter(size(ds).between(2, maxDf))
        } else {
          val rare = allShingles.groupBy("s").agg(count(lit(1)).as("__df"))
            .filter(col("__df") <= maxDf && col("__df") >= 2).select("s")
          allShingles.join(rare, "s")
            .groupBy("s").agg(array_sort(collect_list(col("doc"))).as("ds"))
        }
      grouped
        .select(explode(flatten(transform(
          sequence(lit(1), size(ds) - 1),
          i => transform(slice(ds, i + 1, size(ds)),
            d => struct(element_at(ds, i).as("doc_a"), d.as("doc_b"))))))
          .as("__p"))
        .groupBy(col("__p.doc_a").as("doc_a"), col("__p.doc_b").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
    }
  }

  /** Inverted-index pairwise Jaccard: docs sharing ≥1 shingle meet on a
    * shingle-keyed shuffle; J = |A∩B| / (|A|+|B|-|A∩B|). Returns pairs
    * with doc_a < doc_b and jaccard ≥ threshold (rounded to 6 dp).
    * See [[pairIntersections]] for the `maxDf` hot-shingle cutoff
    * semantics (reported J becomes a lower bound).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    // persisted: the self-join + size joins read this 4×, and without a
    // materialization barrier CollapseProject inlines the tokenizer into
    // each consumer (and then into every per-shingle lambda element).
    // Shingles are md5-hashed to 60-bit longs BEFORE the self-join: the
    // shuffle moves 8-byte keys instead of ~25-byte strings and the
    // equality is integer compare. The FULL 60-bit hash is the join key
    // (no mod-p reduction — that would shrink the space to ~2^30, where
    // birthday collisions start near 30k distinct shingles); at 60 bits,
    // expected colliding shingle pairs ≈ m²/2^61, i.e. <0.1% error below
    // ~10^8 distinct shingles. The oracle mirrors the same hashing, so
    // any collision is reproduced identically on both engines.
    val withSh = shingleSets(docs, idCol, textCol, n)
      .select(col("doc"),
        array_distinct(transform(col("sh"), s => hash60(s))).as("sh"))
      .persistTracked()
    val sizes = withSh.select(col("doc"), size(col("sh")).as("n_sh"))
    val inter = pairIntersections(withSh, maxDf)
    inter
      .join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        round(col("inter") * lit(1.0) / (col("n_a") + col("n_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // ---- shingle inverted index (cross-snapshot containment) ---------------
  //
  // The stored-index form of [[containmentPairs]] (r13 — the seventh
  // family): "is this NEW doc mostly contained in some stored doc?" is
  // the quote/mirror/excerpt question a minhash index structurally
  // cannot serve — banding estimates JACCARD, and a 50-token quote
  // inside a 5000-token page has J ≈ 0.01, invisible to any band
  // geometry. Containment needs shingle-granular postings, so this
  // family stores the inverted index itself: `$path/postings`
  // (sg, doc) for shingles with build-time df ≤ maxDf (the p54
  // hot-shingle storage bound) + `$path/docs` (doc, n_sh) for the
  // containment denominators. Both relations are append-only (fold =
  // the batch's own postings/sizes as new files); because the serving
  // screen RE-DERIVES df over the matched keys (batch-bounded) and
  // applies the cutoff there, N folded snapshots serve with the same
  // df semantics as a rebuild — up to the documented asymmetry that a
  // shingle CUT at build time in one snapshot cannot contribute its
  // other snapshots' postings' true df (it was never stored), so a
  // cross-snapshot-hot shingle contributes only its stored minority.

  /** Hashed postings + sizes of `docs`: ((sg, doc), (doc, n_sh)). */
  private def shinglePostings(docs: DataFrame, idCol: String,
      textCol: String, n: Int): (DataFrame, DataFrame) = {
    val withSh = shingleSets(docs, idCol, textCol, n)
      .select(col("doc"),
        array_distinct(transform(col("sh"), s => hash60(s))).as("sh"))
      .persistTracked()
    (withSh.select(explode(col("sh")).as("sg"), col("doc")),
      withSh.select(col("doc"), size(col("sh")).cast("long").as("n_sh")))
  }

  /** Persist the shingle inverted index of `docs` at `path`. */
  def saveShingleIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int, path: String, maxDf: Int = 10000): Unit = {
    require(n >= 1 && maxDf >= 1, s"need n >= 1, maxDf >= 1: $n, $maxDf")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("shingle_h60", 60, n, maxDf))
      .toDF("family", "key_bits", "n", "max_df")
      .write.mode("overwrite").parquet(s"$path/meta")
    val (postings, sizes) = shinglePostings(docs, idCol, textCol, n)
    val kept = postings.join(
      postings.groupBy("sg").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("sg"),
      Seq("sg"), "left_semi")
    kept.sortWithinPartitions("sg")
      .write.mode("overwrite").parquet(s"$path/postings")
    sizes.write.mode("overwrite").parquet(s"$path/docs")
  }

  /** Load + validate a shingle index: family, shingle width, df bound,
    * the per-file 60-bit key probe. Returns (postings, sizes, n, maxDf).
    */
  def loadShingleIndex(spark: SparkSession,
      path: String): (DataFrame, DataFrame, Int, Int) =
    loadShingleIndexM(spark, path)._1

  /** [[loadShingleIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadShingleIndexM(spark: SparkSession,
      path: String): ((DataFrame, DataFrame, Int, Int), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadShingleIndex",
      Some(("shingle_h60", "foreign key material would silently stop " +
        "matching batch shingles")),
      Seq("key_bits", "n", "max_df"))
    val bits = m.int("key_bits")
    val postings = Parquet.read(spark, s"$path/postings")
    require(Seq("sg", "doc").forall(postings.columns.contains),
      s"loadShingleIndex: not a postings relation at $path: " +
        postings.columns.mkString(","))
    val sizes = Parquet.read(spark, s"$path/docs")
    require(Seq("doc", "n_sh").forall(sizes.columns.contains),
      s"loadShingleIndex: not a doc-size relation at $path: " +
        sizes.columns.mkString(","))
    probeEach(spark, s"$path/postings") { f =>
      val r = Parquet.read(spark, f).select(col("sg").cast("long"))
        .limit(1).collect()
      r.headOption.foreach { row =>
        val k = row.getLong(0)
        require(k >= 0 && k < (1L << bits),
          s"loadShingleIndex: file $f carries key $k outside the " +
            s"$bits-bit family at $path")
      }
    }
    ((postings, sizes, m.int("n"), m.int("max_df")), m)
  }

  /** [[deleteFromMinhashIndex]] for the shingle containment family:
    * both stored relations ((sg, doc) postings + (doc, n_sh) sizes)
    * are PER-DOC rows, so deletion is a plain id anti-join rewrite,
    * O(index), and the deleted index serves exactly as one built on
    * the retained corpus — up to the family's documented build-time
    * asymmetry, which deletion can only NARROW, never widen: a shingle
    * df-cut at build time stays cut (its postings were never stored,
    * so they cannot come back when deletions drop its df below
    * max_df). Membership is checked against the SIZES relation — a
    * doc whose every shingle was df-cut still has a size row, and a
    * takedown of such a doc must not raise. The shared loud contract:
    * unseen delete ids raise, duplicate delete ids raise, outPath must
    * differ, and the bloom sidecar is rebuilt via
    * [[buildShingleBloom]], never carried.
    */
  def deleteFromShingleIndex(deletedIds: DataFrame, indexPath: String,
      outPath: String, idCol: String): Unit = {
    val spark = deletedIds.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromShingleIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromShingleIndex")
    val (postings, sizes, n, maxDf) = loadShingleIndex(spark, indexPath)
    val dels = deletedIds.select(col(idCol).cast("long").as("__del_id"))
      .persistTracked()
    val nDel = dels.count()
    val nDelIds = dels.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromShingleIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids")
    val absent = dels.join(sizes.select(col("doc")),
      col("__del_id") === col("doc"), "left_anti").count()
    require(absent == 0,
      s"deleteFromShingleIndex: $absent delete ids are absent from the " +
        "index — wrong index or wrong delete list (a silently no-op " +
        "takedown is a compliance bug)")
    import spark.implicits._
    Seq(("shingle_h60", 60, n, maxDf))
      .toDF("family", "key_bits", "n", "max_df")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    postings.join(dels, col("doc") === col("__del_id"), "left_anti")
      .sortWithinPartitions("sg")
      .write.mode("overwrite").parquet(s"$outPath/postings")
    sizes.join(dels, col("doc") === col("__del_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/docs")
    dels.unpersist()
  }

  /** Screen a batch against the stored shingle index — directed
    * containment between each batch doc and each stored doc they share
    * shingles with: `containment = inter / n_sh(inner)`, both
    * directions reported at or above `threshold` (batch-inside-corpus
    * is the excerpt/quote case; corpus-inside-batch the expansion
    * case). Shingle width comes FROM the stored meta; the df cutoff is
    * re-derived over the MATCHED keys (batch-bounded, so folded
    * snapshots keep the build-time semantics — see the family note).
    *
    * Shuffle ledger (`broadcastBatch = true`, the serving contract):
    * the batch's distinct shingle hashes broadcast and SEMI-FILTER the
    * narrow stored postings scan — the corpus contributes one
    * two-column columnar scan and zero exchanges; everything after is
    * proportional to the matched postings (bounded by batch keys ×
    * maxDf).
    *
    * Output: `(doc_inner, doc_outer, inter, containment)`.
    */
  def containmentAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val (postings, sizes, n, maxDf) = loadShingleIndex(spark, indexPath)
    containmentScreenBody(newDocs, postings, sizes, n, maxDf, idCol,
      textCol, threshold, broadcastBatch, corpusBloom = None)
  }

  private def containmentScreenBody(newDocs: DataFrame,
      postings: DataFrame, sizes: DataFrame, n: Int, maxDf: Int,
      idCol: String, textCol: String, threshold: Double,
      broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter])
      : DataFrame = {
    val (bPostings0, bSizes) = shinglePostings(newDocs, idCol, textCol, n)
    val bPostings = bPostings0.persistTracked()
    // sketch-negative shingle hashes are DEFINITELY not in the stored
    // postings — gating the probe set loses nothing (they would match
    // no posting anyway)
    val probe = corpusBloom match {
      case Some(bf) => bPostings.filter(
        graft.functions.BloomMightContain(col("sg").cast("long"), bf))
      case None => bPostings
    }
    val bKeys = probe.select("sg").distinct()
    val matched = (if (broadcastBatch)
        postings.join(broadcast(bKeys), Seq("sg"), "left_semi")
      else postings.join(bKeys, Seq("sg"), "left_semi"))
      .persistTracked()
    // serve-time df over the matched keys only (batch-bounded): the
    // union across folded snapshots must honor the stored bound
    val hot = matched.groupBy("sg").agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf).select("sg")
    val cold = matched.join(
      if (broadcastBatch) broadcast(hot) else hot, Seq("sg"), "left_anti")
    val inter = bPostings
      .join(cold.withColumnRenamed("doc", "__cdoc"), Seq("sg"))
      .groupBy(col("doc").as("__bdoc"), col("__cdoc"))
      .agg(count(lit(1)).as("inter"))
    val cSizes = sizes.join(
      if (broadcastBatch) broadcast(inter.select(col("__cdoc").as("doc"))
        .distinct())
      else inter.select(col("__cdoc").as("doc")).distinct(),
      Seq("doc"), "left_semi")
    val sized = inter
      .join(bSizes.select(col("doc").as("__bdoc"), col("n_sh").as("__nb")),
        Seq("__bdoc"))
      .join(cSizes.select(col("doc").as("__cdoc"), col("n_sh").as("__nc")),
        Seq("__cdoc"))
    sized.select(col("__bdoc").as("doc_inner"),
        col("__cdoc").as("doc_outer"), col("inter"),
        round(col("inter") * lit(1.0) / col("__nb"), 6).as("containment"))
      .unionByName(sized.select(col("__cdoc").as("doc_inner"),
        col("__bdoc").as("doc_outer"), col("inter"),
        round(col("inter") * lit(1.0) / col("__nc"), 6).as("containment")))
      .filter(col("containment") >= threshold)
  }

  /** Fold a batch INTO the stored shingle index: the batch's own
    * postings (under the stored shingle width and build-time df bound)
    * and doc sizes append as new files — O(batch).
    */
  def mergeIntoShingleIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoShingleIndex")
    val (_, _, n, maxDf) = loadShingleIndex(spark, indexPath)
    val (postings, sizes) = shinglePostings(newDocs, idCol, textCol, n)
    val kept = postings.join(
      postings.groupBy("sg").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("sg"),
      Seq("sg"), "left_semi")
    kept.sortWithinPartitions("sg")
      .write.mode("append").parquet(s"$indexPath/postings")
    sizes.write.mode("append").parquet(s"$indexPath/docs")
  }

  /** Build (or REBUILD after folds) the shingle index's bloom sidecar
    * over the stored 60-bit shingle hashes — same drift-stamp/loud
    * contract as [[buildExactBloom]].
    */
  def buildShingleBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val (postings, _, _, _) = loadShingleIndex(spark, indexPath)
    writeBloomSidecar(indexPath, s"$indexPath/postings",
      postings.select(col("sg").cast("long").as("k")).distinct(),
      "shingle_sg60", expectedItems, fpp)
  }

  def loadShingleBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/postings",
      "shingle_sg60", "buildShingleBloom")

  /** [[containmentAgainstIndex]] with the bloom fast path: batch
    * shingle hashes the sketch rules out never reach the stored
    * postings — on a mostly-fresh batch the broadcast key set shrinks
    * to the sketch-positive minority. No false negatives ⇒ identical
    * relation.
    */
  def containmentAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val bloom = loadShingleBloom(spark, indexPath)
    val (postings, sizes, n, maxDf) = loadShingleIndex(spark, indexPath)
    containmentScreenBody(newDocs, postings, sizes, n, maxDf, idCol,
      textCol, threshold, broadcastBatch, corpusBloom = Some(bloom))
  }

  /** [[saveShingleIndex]] in the backfill layout: postings
    * `bucketBy(sg)` as an external catalog table (sizes stay plain —
    * they join on doc, a different key), meta additionally pins
    * n_buckets. [[containmentAgainstIndexBucketed]]'s semi-filter then
    * consumes the table's own hash partitioning — zero corpus-side
    * exchanges at any batch size.
    */
  def saveShingleIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, n: Int, path: String, maxDf: Int = 10000,
      nBuckets: Int = 64, tablePrefix: String = ""): Unit = {
    require(n >= 1 && maxDf >= 1, s"need n >= 1, maxDf >= 1: $n, $maxDf")
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("shingle_h60", 60, n, maxDf, nBuckets))
      .toDF("family", "key_bits", "n", "max_df", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    val (postings, sizes) = shinglePostings(docs, idCol, textCol, n)
    val kept = postings.join(
      postings.groupBy("sg").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("sg"),
      Seq("sg"), "left_semi")
    BucketedTables.saveBucketed(kept, s"$path/postings",
      s"${prefix}_shingle", Seq("sg"), nBuckets)
    sizes.write.mode("overwrite").parquet(s"$path/docs")
  }

  /** The backfill-scale containment screen: identical relation to
    * [[containmentAgainstIndex]], stored postings consumed through the
    * bucketed catalog table — only the batch shuffles.
    */
  def containmentAgainstIndexBucketed(newDocs: DataFrame,
      indexPath: String, idCol: String, textCol: String,
      threshold: Double, tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    val ((_, sizes, n, maxDf), m) = loadShingleIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "containmentAgainstIndexBucketed",
      indexPath, "containmentAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_shingle",
      s"$indexPath/postings", Seq("sg"), nBuckets)
    containmentScreenBody(newDocs, spark.table(s"${prefix}_shingle"),
      sizes, n, maxDf, idCol, textCol, threshold,
      broadcastBatch = false, corpusBloom = None)
  }

  /** [[mergeIntoShingleIndex]] for the bucketed layout. */
  def mergeIntoShingleIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((_, _, n, maxDf), m) = loadShingleIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoShingleIndexBucketed",
      indexPath, "mergeIntoShingleIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    val (postings, sizes) = shinglePostings(newDocs, idCol, textCol, n)
    val kept = postings.join(
      postings.groupBy("sg").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("sg"),
      Seq("sg"), "left_semi")
    BucketedTables.appendBucketed(kept, s"$indexPath/postings",
      s"${prefix}_shingle", Seq("sg"), nBuckets)
    sizes.write.mode("append").parquet(s"$indexPath/docs")
  }

  /** One-sided shingle CONTAINMENT (Broder '97's other resemblance
    * measure): C(inner ⊆ outer) = |A∩B| / |A_inner| — the doc-in-doc
    * signal Jaccard structurally misses. A 50-token quote fully inside a
    * 5 000-token page has J ≈ 0.01 (invisible at any sane threshold) but
    * containment 1.0; this is how quote/mirror/subset duplication is
    * actually caught in corpus dedup. Same inverted-index shape as
    * [[jaccardPairs]] (shingle-keyed equality join, never all-pairs;
    * same 60-bit hashing, same optional `maxDf` hot-shingle cutoff with
    * the same lower-bound caveat), but each unordered intersection emits
    * up to TWO directed rows — (inner, outer) for whichever sides clear
    * the threshold — so a pair with asymmetric sizes reports the
    * direction that matters. Ties (equal sets) report both directions.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxDf: Int = Int.MaxValue): DataFrame = {
    val withSh = shingleSets(docs, idCol, textCol, n)
      .select(col("doc"),
        array_distinct(transform(col("sh"), s => hash60(s))).as("sh"))
      .persistTracked()
    val sizes = withSh.select(col("doc"), size(col("sh")).as("n_sh"))
    val sized = pairIntersections(withSh, maxDf)
      .join(sizes.withColumnRenamed("doc", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
    // two directed candidates per unordered pair; explode + filter keeps
    // the plan a projection (no union re-reading the join)
    sized
      .select(explode(array(
        struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
          round(col("inter") * lit(1.0) / col("n_a"), 6).as("containment")),
        struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
          round(col("inter") * lit(1.0) / col("n_b"), 6).as("containment"))))
        .as("__d"))
      .select(col("__d.doc_inner").as("doc_inner"),
        col("__d.doc_outer").as("doc_outer"),
        col("__d.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash permutation family: one md5 per shingle reduced mod p, then
    * k universal hashes h_j(x) = (a_j·x + b_j) mod p — 32 permutations
    * cost 1 digest + pure integer arithmetic instead of 32 digests.
    * Constants stay < 2^31 and x < p < 2^30, so a_j·x < 2^61 never
    * overflows int64 in either engine.
    */
  val MinhashP = 1000000007L
  private[pipeline] def mhA(j: Int): Long = (j * 2654435761L % MinhashP) | 1L
  private[pipeline] def mhB(j: Int): Long = j * 40503L * 2654435761L % MinhashP

  /** Base hash per shingle: md5-derived 60-bit value reduced mod p. */
  def shingleHash(s: Column): Column = hash60(s) % MinhashP

  /** k-permutation MinHash signature of the shingle set (HOF form):
    * element j is min over shingles of (a_j·h + b_j) mod p. Docs with no
    * shingles get an all-null signature (never collide).
    */
  def minhashSignature(sh: Column, k: Int): Column = {
    val hp = transform(sh, s => shingleHash(s))
    array((0 until k).map { j =>
      array_min(transform(hp, h => (lit(mhA(j)) * h + lit(mhB(j))) % MinhashP))
    }: _*)
  }

  /** Same signatures the codegen-friendly way: shingles exploded to rows,
    * one md5 per row, k arithmetic-min aggregates in one
    * whole-stage-codegen hash aggregate. Returns (doc, sig); docs
    * without shingles are absent.
    */
  def minhashSignaturesExploded(shDf: DataFrame, k: Int): DataFrame = {
    val exploded = shDf.select(col("doc"), explode(col("sh")).as("s"))
      .withColumn("hp", shingleHash(col("s")))
    val mins = (0 until k).map { j =>
      min((lit(mhA(j)) * col("hp") + lit(mhB(j))) % MinhashP).as(s"m$j")
    }
    exploded.groupBy("doc").agg(mins.head, mins.tail: _*)
      .select(col("doc"), array((0 until k).map(j => col(s"m$j")): _*).as("sig"))
  }

  /** Band-bucket structs for a k-slot minhash signature: band b hashes
    * its r consecutive slots to an md5 bucket, so two docs collide in
    * band b iff they agree on ALL r slots there. One array per doc —
    * explode it for the (band, bucket) shuffle-key form.
    */
  def bandBuckets(sig: Column, bands: Int, r: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          transform(slice(sig, b * r + 1, r), x => x.cast("string")))).as("bucket"))
    }: _*)

  /** (doc, band, bucket) rows from an index's `bb` array — the join key
    * form of [[bandBuckets]].
    */
  private def explodeBands(index: DataFrame): DataFrame =
    index.select(col("doc"), explode(col("bb")).as("__bb"))
      .select(col("doc"), col("__bb.band"), col("__bb.bucket"))

  /** Precomputed near-dup index: one row per doc with its shingle set
    * `sh`, minhash signature `sig` and LSH band buckets `bb` — the table
    * a continuous-ingestion pipeline persists between batches (at
    * cluster scale, written as parquet so arriving batches join against
    * it without recomputing the corpus).
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame =
    minhashIndexTracked(docs, idCol, textCol, n, k, bands)._1

  /** [[minhashIndex]] plus a handle on its cached shingle relation, so
    * loop-shaped callers (the per-batch incremental path) can unpersist
    * it once the batch result is materialized instead of accumulating
    * cached relations forever.
    */
  private def minhashIndexTracked(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int,
      storage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, DataFrame) = {
    // persisted: the signature aggregate re-reads the shingle relation
    val sh = shingleSets(docs, idCol, textCol, n).persistTracked(storage)
    val idx = sh.join(minhashSignaturesExploded(sh, k), "doc")
      .withColumn("bb", bandBuckets(col("sig"), bands, k / bands))
    (idx, sh)
  }

  /** LSH banding: band i (r consecutive signature slots) hashed to a
    * bucket id; docs sharing any (band, bucket) are candidates. Returns
    * (doc, band, bucket) — one shuffle key per band.
    */
  def lshBands(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int): DataFrame =
    explodeBands(minhashIndex(docs, idCol, textCol, n, k, bands))

  /** Exact Jaccard over candidate pairs only: join each side back to its
    * shingle set and keep pairs at or above the threshold.
    */
  private def verifyJaccard(candidates: DataFrame, shByDoc: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(shByDoc.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shByDoc.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        round(col("inter") * lit(1.0) /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")

  /** MinHash-LSH near-dup pairs: candidates from band-bucket collisions,
    * then exact Jaccard on the candidates only. The verify join is
    * proportional to collisions, not to n².
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double): DataFrame = {
    // Materialize (doc, shingles, signature, bands) ONCE: both sides of
    // the band self-join and the verify join reuse it. Without the
    // persist, Catalyst happily re-derives k md5-min reductions from the
    // raw text on every side of every join (measured 20× slower at
    // sf0.1). At cluster scale this intermediate is what you'd write to
    // a table — exactly [[minhashIndex]].
    val idx = minhashIndex(docs, idCol, textCol, n, k, bands).persistTracked()
    val bandsDf = explodeBands(idx)
    val candidates = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()
    verifyJaccard(candidates, idx.select(col("doc"), col("sh")), threshold)
  }

  /** Near-duplicate DECONTAMINATION against an evaluation/benchmark set
    * (the FineWeb/GPT-3-appendix discipline: exact n-gram overlap —
    * [[contaminationFlags]]' job — misses paraphrased or
    * whitespace-perturbed leakage, so releases ALSO drop training docs
    * that minhash-near-dup a benchmark doc): returns the audit relation
    * `(train_id, bench_id, jaccard)` of training docs whose Jaccard
    * with some benchmark doc clears the threshold. Anti-join the
    * train corpus on `train_id` to drop them.
    *
    * Shape: candidates come from a STRICTLY cross-set band join — the
    * training corpus never self-pairs (that is [[minhashLshPairs]]'
    * job), and the benchmark side is BROADCAST end to end (band cells
    * into the candidate join, shingle sets into the verify): benchmark
    * suites are bounded by construction, so per-release cost is one
    * scan of the training corpus with zero corpus-side exchange.
    */
  def nearDupDecontaminate(train: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, n: Int = 3, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.4): DataFrame = {
    val tIdx = minhashIndex(train, idCol, textCol, n, k, bands).persistTracked()
    val bIdx = minhashIndex(benchmark, idCol, textCol, n, k, bands)
      .persistTracked()
    val candidates = explodeBands(tIdx).as("a")
      .join(broadcast(explodeBands(bIdx)).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc").as("train_id"), col("b.doc").as("bench_id"))
      .distinct()
    candidates
      .join(tIdx.select(col("doc").as("train_id"), col("sh").as("sh_t")),
        "train_id")
      .join(broadcast(bIdx.select(col("doc").as("bench_id"),
        col("sh").as("sh_b"))), "bench_id")
      .withColumn("inter", size(array_intersect(col("sh_t"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter") * lit(1.0) /
        (size(col("sh_t")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("train_id"), col("bench_id"), col("jaccard"))
  }

  /** Incremental near-dup detection: screen an arriving batch against a
    * PRECOMPUTED corpus index (the stored output of [[minhashIndex]]) —
    * only the batch is shingled and signed, so per-batch cost is the
    * batch prep plus one bucket-keyed join against the stored bands.
    * Candidates require at least one NEW side: the historical corpus is
    * never re-paired with itself. After screening, union `newIdx` into
    * the stored table for the next batch.
    */
  def incrementalMinhashPairsFromIndex(newIdx: DataFrame, corpusIndex: DataFrame,
      threshold: Double, broadcastBatch: Boolean = true): DataFrame =
    incrementalMinhashPairsFromBands(newIdx,
      corpusIndex.select(col("doc"), col("sh")),
      explodeBands(corpusIndex), threshold, broadcastBatch)

  /** The screen body, taking the corpus BAND CELLS as their own
    * relation — this is what makes the stored-index path scale: a
    * persisted index supplies `(doc, band, bucket)` directly from its
    * narrow pre-exploded parquet ([[saveMinhashIndex]] writes it
    * sorted by (band, bucket)), so a screen never decodes the wide
    * sig/bb arrays of the history at all.
    *
    * Shuffle ledger, because this is the operator a recurring crawl
    * pays on EVERY batch: with `broadcastBatch` (the serving contract —
    * a batch is a bounded crawl increment, not a backfill) the
    * candidate join is a BroadcastHashJoin probing the corpus band
    * SCAN, the verify side is the corpus (doc, sh) scan semi-filtered
    * by the broadcast candidate ids, and the only shuffles left are
    * over the candidate pairs themselves — per-batch network cost
    * tracks the BATCH, while the corpus contributes two narrow
    * columnar scans (embarrassingly parallel, no exchange). The
    * pre-fix shape shuffled the full corpus band relation into the
    * join and the full shingle relation into the verify — O(corpus)
    * exchanges per batch, the round-8 verdict's one structural 100×
    * gap. Set `broadcastBatch = false` for a backfill-scale batch to
    * fall back to the symmetric shuffle join.
    */
  private def incrementalMinhashPairsFromBands(newIdx: DataFrame,
      corpusDocSh: DataFrame, corpusBands: DataFrame, threshold: Double,
      broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)
      : DataFrame = {
    val newBands = explodeBands(newIdx)
    val aSide = if (broadcastBatch) broadcast(newBands) else newBands
    def bandEq = col("a.band") === col("b.band") &&
      col("a.bucket") === col("b.bucket") && col("a.doc") =!= col("b.doc")
    def pairs(df: DataFrame) = df
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
    // with a band-cell sketch, only sketch-positive batch cells consult
    // the CORPUS band scan (no false negatives ⇒ identical candidates);
    // batch×batch candidates are always computed in full
    val candPairs = corpusBloom match {
      case None =>
        pairs(aSide.as("a")
          .join(newBands.unionByName(corpusBands).as("b"), bandEq))
      case Some(bf) =>
        val gated = newBands.filter(graft.functions.BloomMightContain(
          xxhash64(col("band"), col("bucket")), bf))
        val gSide = if (broadcastBatch) broadcast(gated) else gated
        pairs(aSide.as("a").join(newBands.as("b"), bandEq))
          .unionByName(pairs(gSide.as("a").join(corpusBands.as("b"), bandEq)))
    }
    val candidates = candPairs
      .distinct()
      .persistTracked()
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
    val allSh = newIdx.select(col("doc"), col("sh"))
      .unionByName(corpusDocSh.select(col("doc"), col("sh")))
    val shNeeded =
      if (broadcastBatch)
        allSh.join(broadcast(candIds), Seq("doc"), "left_semi").persistTracked()
      else allSh
    verifyJaccard(candidates, shNeeded, threshold)
  }

  /** Convenience form of [[incrementalMinhashPairsFromIndex]] that preps
    * the new batch itself. The corpus side must already be an index —
    * pass `minhashIndex(corpusDocs, ...)` once and store it; passing raw
    * corpus docs per batch would put the whole corpus back on the
    * per-batch critical path.
    */
  def incrementalMinhashPairs(newDocs: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String,
      n: Int, k: Int, bands: Int, threshold: Double,
      broadcastBatch: Boolean = true): DataFrame = {
    val (idx, sh) = minhashIndexTracked(newDocs, idCol, textCol, n, k, bands)
    val newIdx = idx.persistTracked()
    // EAGER localCheckpoint: materializes the (small) per-batch pair
    // result and truncates its lineage, so the batch's cached
    // intermediates (including the screen body's candidate/verify
    // barriers, released by the CacheLedger scope) can be freed
    // immediately. Without this, a continuous-ingestion loop calling
    // this once per batch accumulates persisted relations across
    // batches until executors spill or OOM.
    val out = CacheLedger.scoped {
      incrementalMinhashPairsFromIndex(newIdx, corpusIndex, threshold,
          broadcastBatch)
        .localCheckpoint()
    }
    newIdx.unpersist()
    sh.unpersist()
    out
  }

  /** Persist a [[minhashIndex]] as plain parquet (the AnnIO no-pickle
    * philosophy): the index rows, the PRE-EXPLODED band-cell relation
    * `(doc, band, bucket)` sorted by (band, bucket) within files, and
    * a one-row meta relation pinning the build parameters — a later
    * batch joined against an index built with different n/k/bands
    * would emit silently-wrong candidates, so the loader validates
    * instead of trusting. The separate band table is the layout that
    * makes crawl-N+1 screens cheap: a screen scans three narrow long
    * columns (sorted, so row groups carry tight band min/max stats)
    * instead of decoding every stored row's sig/bb arrays, and
    * [[nearDupAgainstIndex]] never shuffles it (see
    * [[incrementalMinhashPairsFromBands]]'s shuffle ledger).
    */
  def saveMinhashIndex(index: DataFrame, path: String, n: Int): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    val need = Seq("doc", "sh", "sig", "bb")
    require(need.forall(index.columns.contains),
      s"saveMinhashIndex: expected columns ${need.mkString(",")}, " +
        s"got ${index.columns.mkString(",")}")
    // fail BEFORE any write: .head() on an empty index would throw an
    // opaque NoSuchElementException after leaving a partial $path/meta
    val headOpt = index.select(size(col("sig")), size(col("bb"))).limit(1).collect()
    require(headOpt.nonEmpty,
      s"saveMinhashIndex: refusing to persist an EMPTY index to $path " +
        "(no rows to derive k/bands from; nothing to serve against)")
    val head = headOpt(0)
    Seq((n, head.getInt(0), head.getInt(1)))
      .toDF("n", "k", "bands")
      .write.mode("overwrite").parquet(s"$path/meta")
    index.select(need.map(col): _*)
      .write.mode("overwrite").parquet(s"$path/index")
    explodeBands(index).sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").parquet(s"$path/bands")
  }

  /** [[mergeIntoMinhashIndex]] for the bucketed layout: the batch is
    * indexed under the stored parameters and APPENDED through the
    * catalog tables (insertInto), so the new files carry correct
    * bucket ids — a plain parquet append would silently corrupt every
    * later bucketed read, which is why the plain merge refuses the
    * layout outright.
    */
  def mergeIntoMinhashIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, assertNewIds: Boolean = false,
      tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val ((n, k, bands, stored), m) = loadMinhashIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoMinhashIndexBucketed",
      indexPath, "mergeIntoMinhashIndex")
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    val newIdx = minhashIndex(newDocs, idCol, textCol, n, k, bands)
      .select(col("doc"), col("sh"), col("sig"), col("bb"))
    if (assertNewIds) {
      val clash = newIdx.select("doc")
        .join(stored.select("doc"), Seq("doc"), "left_semi").count()
      require(clash == 0,
        s"mergeIntoMinhashIndexBucketed: $clash batch ids already exist " +
          s"at $indexPath")
    }
    val newIdxP = newIdx.persistTracked()
    BucketedTables.appendBucketed(newIdxP, s"$indexPath/index",
      s"${prefix}_docs", Seq("doc"), nBuckets)
    BucketedTables.appendBucketed(explodeBands(newIdxP), s"$indexPath/bands",
      s"${prefix}_bands", Seq("band", "bucket"), nBuckets)
    newIdxP.unpersist()
  }

  /** Deterministic default catalog prefix for a stored index's bucketed
    * tables (callers running several indexes in one session can pass
    * their own).
    */
  private def bucketedPrefix(path: String): String =
    "graft_idx_" + (scala.util.hashing.MurmurHash3.stringHash(path) & 0x7fffffff)

  /** [[saveMinhashIndex]] in the BACKFILL layout: the same three
    * relations at the same paths — still readable as plain parquet by
    * [[loadMinhashIndex]], [[storedBandCells]] and the broadcast
    * serving screen — but the index rows land `bucketBy(doc)` and the
    * band cells `bucketBy(band, bucket)` as external catalog tables,
    * so [[nearDupAgainstIndexBucketed]]'s backfill joins never
    * exchange the corpus side (see [[BucketedTables]]). The meta row
    * additionally pins `n_buckets`. One data copy serves both access
    * paths; choose this layout when re-screens at batch sizes too big
    * to broadcast are part of the lifecycle.
    */
  def saveMinhashIndexBucketed(index: DataFrame, path: String, n: Int,
      nBuckets: Int = 64, tablePrefix: String = ""): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    val need = Seq("doc", "sh", "sig", "bb")
    require(need.forall(index.columns.contains),
      s"saveMinhashIndexBucketed: expected columns ${need.mkString(",")}, " +
        s"got ${index.columns.mkString(",")}")
    val headOpt = index.select(size(col("sig")), size(col("bb"))).limit(1).collect()
    require(headOpt.nonEmpty,
      s"saveMinhashIndexBucketed: refusing to persist an EMPTY index to $path")
    val head = headOpt(0)
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq((n, head.getInt(0), head.getInt(1), nBuckets))
      .toDF("n", "k", "bands", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(index.select(need.map(col): _*),
      s"$path/index", s"${prefix}_docs", Seq("doc"), nBuckets)
    BucketedTables.saveBucketed(explodeBands(index),
      s"$path/bands", s"${prefix}_bands", Seq("band", "bucket"), nBuckets)
  }

  /** The backfill-scale screen against a [[saveMinhashIndexBucketed]]
    * index: identical pairs to [[nearDupAgainstIndex]] (>= 1 batch
    * side), but built for batches too big to broadcast. Shuffle
    * ledger: the batch's band cells shuffle into the band table's
    * nBuckets partitions and join the bucketed corpus scan
    * EXCHANGE-FREE on the corpus side; candidate ids semi-filter the
    * bucketed (doc, sh) scan the same way; every remaining exchange is
    * batch- or candidate-proportional. The corpus contributes two
    * bucketed columnar scans and zero shuffles — at any batch size.
    */
  def nearDupAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      tablePrefix: String = "",
      batchStorage: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = newDocs.sparkSession
    val ((n, k, bands, _), m) = loadMinhashIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "nearDupAgainstIndexBucketed",
      indexPath, "nearDupAgainstIndex")
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_docs", s"$indexPath/index",
      Seq("doc"), nBuckets)
    BucketedTables.register(spark, s"${prefix}_bands", s"$indexPath/bands",
      Seq("band", "bucket"), nBuckets)
    val corpusBands = spark.table(s"${prefix}_bands")
    val corpusSh = spark.table(s"${prefix}_docs").select(col("doc"), col("sh"))
    val (newIdx0, sh) = minhashIndexTracked(newDocs, idCol, textCol,
      n, k, bands, batchStorage)
    // the WIDE batch-side barriers (sig/bb/sh arrays) honor
    // `batchStorage`: a backfill batch is big by definition, and on a
    // memory-tight executor the default level's eviction-recompute of
    // the batch prep is the dominant cost (the round-10 24 GiB row) —
    // pass StorageLevel.DISK_ONLY to trade a predictable spill for it
    val newIdxP = newIdx0.persistTracked(batchStorage)
    val out = CacheLedger.scoped {
      val newBands = explodeBands(newIdxP)
      def keyEq = col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.doc") =!= col("b.doc")
      // batch x batch and batch x corpus candidates are SEPARATE joins:
      // a union of the corpus into one relation would bury the bucketed
      // scan under a Union node and force the exchange back
      val candBB = newBands.as("a").join(newBands.as("b"), keyEq)
        .select(col("a.doc").as("da"), col("b.doc").as("db"))
      val candBC = newBands.as("a").join(corpusBands.as("b"), keyEq)
        .select(col("a.doc").as("da"), col("b.doc").as("db"))
      val candidates = candBB.unionByName(candBC)
        .select(least(col("da"), col("db")).as("doc_a"),
          greatest(col("da"), col("db")).as("doc_b"))
        .distinct().persistTracked()
      val candIds = candidates
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
      val shNeeded = newIdxP.select(col("doc"), col("sh"))
        .unionByName(corpusSh.join(candIds, Seq("doc"), "left_semi"))
        .persistTracked(batchStorage)
      verifyJaccard(candidates, shNeeded, threshold).localCheckpoint()
    }
    newIdxP.unpersist()
    sh.unpersist()
    out
  }

  /** (n, k, bands, index) back from [[saveMinhashIndex]]; the stored
    * rows must agree with the meta row's k/bands — a foreign-engine or
    * wrong-family write fails loudly, not as missed duplicates. The
    * agreement check probes a bounded PER-FILE sample (newest files by
    * mtime + a deterministic hash sample of the history, one row each):
    * per-file because an out-of-band append with foreign geometry lands
    * in its own new files, which a head row-sample never reads; bounded
    * because a per-load O(corpus) validation scan would put the entire
    * history on every batch's critical path — run
    * [[validateMinhashIndex]] for the full-audit form (after an
    * untrusted bulk import, say).
    */
  def loadMinhashIndex(spark: SparkSession, path: String)
      : (Int, Int, Int, DataFrame) =
    loadMinhashIndexM(spark, path)._1

  /** [[loadMinhashIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadMinhashIndexM(spark: SparkSession, path: String)
      : ((Int, Int, Int, DataFrame), IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadMinhashIndex", None,
      Seq("n", "k", "bands"))
    val (n, k, bands) = (m.int("n"), m.int("k"), m.int("bands"))
    val idx = Parquet.read(spark, s"$path/index")
    val need = Seq("doc", "sh", "sig", "bb")
    require(need.forall(idx.columns.contains),
      s"loadMinhashIndex: not a minhash index at $path: ${idx.columns.mkString(",")}")
    // the agreement sample is PER FILE, not per row: a row limit()
    // reads whichever single partition answers first, so a
    // foreign-engine append with a different k/bands landing in LATER
    // files would sail past a head sample and surface as silently
    // missed duplicates. Probe one row from each of a bounded file
    // set (see [[probeFiles]]); each probe reads one row of one file
    // (footer + first page), keeping the load path O(files-sampled),
    // never O(corpus). Within-file drift remains
    // [[validateMinhashIndex]]'s full-audit job.
    probeEach(spark, s"$path/index") { f =>
      val r = Parquet.read(spark, f)
        .select(size(col("sig")), size(col("bb"))).limit(1).collect()
      r.headOption.foreach { row =>
        require(row.getInt(0) == k && row.getInt(1) == bands,
          s"loadMinhashIndex: file $f has k=${row.getInt(0)}, " +
            s"bands=${row.getInt(1)} but meta says (k=$k, bands=$bands) " +
            s"at $path")
      }
    }
    ((n, k, bands, idx), m)
  }

  /** One-row meta payload shared by the stored-index loaders (r14):
    * geometry fields widened to Long, plus the bucketed layout's
    * n_buckets when present.
    */
  private[pipeline] final case class IndexMeta(fields: Map[String, Long],
      nBuckets: Option[Int]) {
    def int(name: String): Int = fields(name).toInt
    def long(name: String): Long = fields(name)
  }

  /** Read + validate a stored index's one-row meta in ONE collect (r14
    * optimization, guide §1.2 — remove driver round-trips): the loaders
    * previously ran one job for the family check and a SECOND for the
    * geometry columns, and every bucketed caller re-read meta a THIRD
    * time for n_buckets — at ~0.1 s of scheduling per driver round-trip
    * that was pure fixed cost on every screen / merge / delete / compact
    * invocation, at any scale. Validation order and messages are
    * preserved: family first (a foreign family's meta lacks this
    * family's geometry columns, so the family mismatch must stay the
    * useful error, not an unresolved column), then single-row shape,
    * then the geometry columns.
    *
    * `family = None` for the two meta layouts that predate the family
    * stamp (minhash, signature); `optional` columns land in `fields`
    * only when present (the signature index's n_blocks).
    */
  private[pipeline] def readIndexMeta(spark: SparkSession, path: String,
      loader: String, family: Option[(String, String)],
      geometry: Seq[String], optional: Seq[String] = Nil): IndexMeta = {
    val metaDf = Parquet.read(spark, s"$path/meta")
    val cols = metaDf.columns.toSeq // driver-side schema — no job
    if (family.isDefined)
      require(cols.contains("family"),
        s"$loader: no family column in meta at $path")
    val present = (geometry ++ optional).filter(cols.contains)
    val withB = cols.contains("n_buckets") && !geometry.contains("n_buckets")
    val sel =
      (if (family.isDefined) Seq(col("family").cast("string")) else Nil) ++
        present.map(c => col(c).cast("long")) ++
        (if (withB) Seq(col("n_buckets").cast("long")) else Nil)
    val rows = metaDf.select(sel: _*).collect() // the ONE meta action
    require(rows.length == 1,
      s"$loader: expected ONE meta row at $path/meta, got ${rows.length}")
    val off = if (family.isDefined) 1 else 0
    family.foreach { case (want, mismatch) =>
      val fam = rows(0).getString(0)
      require(fam == want,
        s"$loader: index family $fam at $path is not $want — $mismatch")
    }
    require(geometry.forall(present.contains),
      s"$loader: meta at $path lacks geometry columns " +
        geometry.filterNot(present.contains).mkString(","))
    IndexMeta(
      present.zipWithIndex.map { case (c, i) =>
        c -> rows(0).getLong(i + off)
      }.toMap,
      if (withB) Some(rows(0).getLong(off + present.size).toInt) else None)
  }

  /** The bucketed callers' n_buckets gate over an already-read meta. */
  private[pipeline] def requireBuckets(m: IndexMeta, caller: String,
      path: String, plainForm: String): Int =
    m.nBuckets.getOrElse(throw new IllegalArgumentException(
      s"requirement failed: $caller: $path was not saved in the bucketed " +
        s"layout (no n_buckets in meta) — use $plainForm or re-save with " +
        "the *Bucketed save"))

  // r14 (ADVICE): ONE shared daemon pool for all probe batches — the
  // previous per-load non-daemon pool was never awaited on failure, so a
  // failed probe's siblings kept running Spark jobs after the caller
  // unwound (and pool churn per load was waste). Daemon threads cannot
  // outlive the JVM; the Await-all below still propagates every failure.
  private lazy val probePool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(8,
        new java.util.concurrent.ThreadFactory {
          private val n = new java.util.concurrent.atomic.AtomicInteger(0)
          override def newThread(r: Runnable): Thread = {
            val t = new Thread(r, s"graft-index-probe-${n.incrementAndGet()}")
            t.setDaemon(true)
            t
          }
        }))

  /** Run the per-file geometry probe over [[probeFiles]]' sample
    * CONCURRENTLY (r13 optimization; guide §2.6 — overlap independent
    * jobs): each probe is an independent limit-1 read whose wall cost
    * is almost entirely job-scheduling latency, and every stored-index
    * LOAD pays the whole set — serially that was up to 32 back-to-back
    * ~25 ms jobs on the critical path of every screen/merge/delete.
    * A small driver pool overlaps them; any probe failure propagates
    * (the require semantics are unchanged — all probes still run).
    */
  private[pipeline] def probeEach(spark: SparkSession, dir: String)(
      probe: String => Unit): Unit = {
    val files = probeFiles(spark, dir)
    if (files.isEmpty) return
    if (files.size == 1) { probe(files.head); return }
    // every future is awaited — a failure rethrows here after its own
    // probe finished; in-flight siblings are daemon-pooled and harmless
    files
      .map(f => scala.concurrent.Future(probe(f))(probePool))
      .foreach(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration.Inf))
  }

  /** The bounded per-file probe set every stored-index loader samples
    * (minhash / cosine / signature — same failure class, same fix):
    * the NEWEST files by mtime first — an out-of-band append with
    * foreign geometry is by definition recent, so it is caught on the
    * first load after it lands — plus a deterministic hash sample of
    * the history. Bounded, because a per-load O(corpus) validation
    * scan would put the entire history on every batch's critical path.
    */
  private[pipeline] def probeFiles(spark: SparkSession, dir: String,
      cap: Int = 16): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statuses = fs.listStatus(p)
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val newest = statuses.sortBy(-_.getModificationTime).take(cap)
    val hashed = statuses.sortBy(st =>
      scala.util.hashing.MurmurHash3.stringHash(st.getPath.getName)).take(cap)
    (newest ++ hashed).map(_.getPath.toString).distinct.toSeq
  }

  /** Full-corpus audit of a stored index (every row against meta, and
    * the band table's cell count against the index's row count × bands)
    * — O(corpus), so deliberately NOT on the per-batch load path.
    */
  def validateMinhashIndex(spark: SparkSession, path: String): Unit = {
    val (_, k, bands, idx) = loadMinhashIndex(spark, path)
    val bad = idx.filter(size(col("sig")) =!= k || size(col("bb")) =!= bands).count()
    require(bad == 0,
      s"validateMinhashIndex: $bad rows disagree with meta (k=$k, bands=$bands) at $path")
    val cells = storedBandCells(spark, path).count()
    val want = idx.count() * bands
    require(cells == want,
      s"validateMinhashIndex: band table has $cells cells, index implies $want at $path")
  }

  /** The stored band-cell relation (pre-exploded by [[saveMinhashIndex]]
    * / appended by [[mergeIntoMinhashIndex]]); indexes persisted by the
    * pre-band-table layout derive it from the index rows instead.
    */
  private def storedBandCells(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) Parquet.read(spark, s"$path/bands")
    else explodeBands(Parquet.read(spark, s"$path/index"))
  }

  /** [[deleteFromExactIndex]] for the PER-DOC near-dup index
    * ([[saveMinhashIndex]]'s (doc, sh, sig, bb) rows + exploded band
    * cells): unlike the AGGREGATED exact/line families there is no
    * winner ambiguity to surface — every screen verdict derives from
    * surviving docs' own rows — so deletion is a plain id ANTI-JOIN
    * rewrite of both stored relations, O(index), and the deleted
    * index is EXACTLY the index of the retained corpus (no NULLed
    * fields, no semantics caveat). The loud contract is shared:
    * delete ids the index never saw raise (a takedown that silently
    * no-ops is a compliance bug), duplicate delete ids raise, outPath
    * must differ, and the bloom sidecar is rebuilt
    * ([[buildMinhashBloom]]), never carried — its band cells changed.
    */
  def deleteFromMinhashIndex(deletedIds: DataFrame, indexPath: String,
      outPath: String, idCol: String): Unit = {
    val spark = deletedIds.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromMinhashIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromMinhashIndex")
    val (n, k, bands, idx) = loadMinhashIndex(spark, indexPath)
    val dels = deletedIds.select(col(idCol).cast("long").as("__del_id"))
      .persistTracked()
    val nDel = dels.count()
    val nDelIds = dels.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromMinhashIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids")
    val absent = dels.join(idx.select(col("doc")),
      col("__del_id") === col("doc"), "left_anti").count()
    require(absent == 0,
      s"deleteFromMinhashIndex: $absent delete ids are absent from the " +
        "index — wrong index or wrong delete list (a silently no-op " +
        "takedown is a compliance bug)")
    import spark.implicits._
    Seq((n, k, bands)).toDF("n", "k", "bands")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    idx.join(dels, col("doc") === col("__del_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/index")
    storedBandCells(spark, indexPath)
      .join(dels, col("doc") === col("__del_id"), "left_anti")
      .sortWithinPartitions("band", "bucket")
      .write.mode("overwrite").parquet(s"$outPath/bands")
    dels.unpersist()
  }

  /** The cross-snapshot serving shape: near-dup crawl N+1 against the
    * STORED index of crawl N ([[saveMinhashIndex]]) — per-batch cost is
    * the batch's own prep plus the band join; the historical corpus is
    * touched only through its persisted index, never re-shingled and
    * never re-paired with itself.
    */
  def nearDupAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val (n, k, bands, idx) = loadMinhashIndex(spark, indexPath)
    val (newIdx, sh) = minhashIndexTracked(newDocs, idCol, textCol, n, k, bands)
    val newIdxP = newIdx.persistTracked()
    val out = CacheLedger.scoped {
      incrementalMinhashPairsFromBands(newIdxP,
        idx.select(col("doc"), col("sh")),
        storedBandCells(spark, indexPath), threshold, broadcastBatch)
        .localCheckpoint()
    }
    newIdxP.unpersist()
    sh.unpersist()
    out
  }

  /** Build (or REBUILD after folds) the minhash index's bloom sidecar
    * over `xxhash64(band, bucket)` of its stored band cells. The drift
    * stamp pins the band table (the relation folds append to) — or the
    * index rows for a pre-band-table index, whose cells
    * [[nearDupAgainstIndexBloom]] re-derives the same way.
    */
  def buildMinhashBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    loadMinhashIndex(spark, indexPath) // family/meta/probe validation
    writeBloomSidecar(indexPath, bandStampDir(spark, indexPath),
      storedBandCells(spark, indexPath)
        .select(xxhash64(col("band"), col("bucket")).as("k")),
      "minhash_band_xxh64", expectedItems, fpp)
  }

  def loadMinhashBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, bandStampDir(spark, indexPath),
      "minhash_band_xxh64", "buildMinhashBloom")

  private def bandStampDir(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(s"$path/bands")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) s"$path/bands" else s"$path/index"
  }

  /** [[nearDupAgainstIndex]] with the bloom fast path: batch band cells
    * the sketch rules out never probe the corpus band scan — on a
    * mostly-fresh frontier batch the corpus-side join input shrinks to
    * the sketch-positive minority. Batch-internal candidates are always
    * computed in full; no false negatives ⇒ IDENTICAL pairs.
    */
  def nearDupAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, threshold: Double,
      broadcastBatch: Boolean = true): DataFrame = {
    val spark = newDocs.sparkSession
    val bloom = loadMinhashBloom(spark, indexPath)
    val (n, k, bands, idx) = loadMinhashIndex(spark, indexPath)
    val (newIdx, sh) = minhashIndexTracked(newDocs, idCol, textCol, n, k, bands)
    val newIdxP = newIdx.persistTracked()
    val out = CacheLedger.scoped {
      incrementalMinhashPairsFromBands(newIdxP,
        idx.select(col("doc"), col("sh")),
        storedBandCells(spark, indexPath), threshold, broadcastBatch,
        Some(bloom))
        .localCheckpoint()
    }
    newIdxP.unpersist()
    sh.unpersist()
    out
  }

  /** Fold a screened batch INTO the stored minhash index — the step that
    * closes the cross-snapshot loop (screen crawl N+1 with
    * [[nearDupAgainstIndex]], merge its survivors here, and crawl N+2
    * screens against N ∪ N+1). The batch is shingled/signed under the
    * index's OWN stored parameters (read from meta, so family drift is
    * impossible) and APPENDED as new parquet files — the historical
    * rows are never rewritten, which is what makes the fold O(batch)
    * instead of O(corpus). Caller contract: batch ids must be new
    * (fold the post-dedup survivors, which by construction exclude ids
    * already indexed); `assertNewIds = true` adds a semi-join count
    * check against the stored ids for the loud-failure variant — one
    * scan of the stored index, so off by default on the hot path.
    */
  def mergeIntoMinhashIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, assertNewIds: Boolean = false): Unit = {
    BucketedTables.requirePlainLayout(newDocs.sparkSession,
      s"$indexPath/meta", "mergeIntoMinhashIndex")
    val (n, k, bands, stored) = loadMinhashIndex(newDocs.sparkSession, indexPath)
    val newIdx = minhashIndex(newDocs, idCol, textCol, n, k, bands)
      .select(col("doc"), col("sh"), col("sig"), col("bb"))
    if (assertNewIds) {
      val clash = newIdx.select("doc")
        .join(stored.select("doc"), Seq("doc"), "left_semi").count()
      require(clash == 0,
        s"mergeIntoMinhashIndex: $clash batch ids already exist at $indexPath")
    }
    val newIdxP = newIdx.persistTracked()
    newIdxP.write.mode("append").parquet(s"$indexPath/index")
    // keep the band-cell table in lockstep (new files only — history is
    // never rewritten); pre-band-table indexes simply never grow one,
    // and storedBandCells keeps deriving theirs from the index rows
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/bands")
    val fs = p.getFileSystem(newDocs.sparkSession.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      explodeBands(newIdxP).sortWithinPartitions("band", "bucket")
        .write.mode("append").parquet(s"$indexPath/bands")
    newIdxP.unpersist()
  }

  // ---- boilerplate line removal ---------------------------------------

  /** Line-level boilerplate removal (the CCNet/RefinedWeb-style cleanup a
    * crawl corpus needs before document-level dedup): a line whose
    * normalized form appears in more than `maxLineDf` DISTINCT documents
    * is boilerplate (nav menus, cookie banners, license headers) and is
    * dropped from every document; line order is preserved and documents
    * reduced to nothing survive with empty text.
    *
    * Two hash aggregates + one broadcast-ready join on the 60-bit line
    * key — no per-document state, scales like word-count.
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
      maxLineDf: Int): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    def lines(src: DataFrame) = src
      .select(col(idCol), posexplode(fsplit(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("lk", TextOps.lineKey(col("line")))
    val hot = lines(docs).groupBy("lk")
      .agg(countDistinct(col(idCol)).as("__df"))
      .filter(col("__df") > maxLineDf)
      .select("lk")
    // r14 (guide §2.3 — shuffle fewer bytes): only documents that
    // actually CONTAIN a hot line are reassembled; everything else
    // passes through verbatim. The superseded shape collect_list'ed
    // EVERY doc's lines back together — a full-corpus shuffle of the
    // text bytes to rebuild the overwhelmingly untouched majority
    // (split + "\n"-rejoin of an untouched doc is byte-identical to
    // passing it through, so the relation is unchanged).
    val touched = lines(docs).join(hot, Seq("lk"), "left_semi")
      .select(col(idCol)).distinct()
    val rebuilt = lines(docs.join(touched, Seq(idCol)))
      .join(hot, Seq("lk"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).as("__ls"))
      .withColumn("__t2",
        array_join(transform(col("__ls"), x => x.getField("line")), "\n"))
      .select(col(idCol), col("__t2"))
    docs
      .join(touched.withColumn("__touched", lit(true)), Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      // touched + no surviving lines (every line hot) reassembles to ""
      .withColumn(textCol,
        when(col("__touched").isNull, col(textCol))
          .otherwise(coalesce(col("__t2"), lit(""))))
      .select(docs.columns.map(col): _*)
  }

  /** Corpus-wide exact LINE deduplication (the RefinedWeb / Dolma
    * line-wise pass, distinct from [[removeBoilerplateLines]]): every
    * non-empty line whose normalized form occurs more than once in the
    * corpus — in other documents or repeated within the same one —
    * survives only at its FIRST occurrence (smallest `(doc id, line
    * position)`); later occurrences are dropped and the survivors
    * rejoin with their original newlines. Boilerplate removal kills
    * lines shared by MANY documents; this kills the long tail it
    * ignores — a line pasted twice anywhere is still once too many for
    * a training corpus. Whitespace-only lines pass through untouched
    * (they are layout, and hashing them would collapse every blank
    * line in the corpus onto one survivor).
    *
    * Same scale shape as [[removeDuplicateCharSpans]] step 2: one
    * `min(struct)` aggregate per line key (partial map-side), one hash
    * join of occurrences against the duplicated-key survivors — no
    * row_number total sort — and only TOUCHED documents are rebuilt;
    * everything else passes through verbatim. Line keys are
    * [[TextOps.lineKey]] 60-bit hashes (collision caveat as in
    * [[removeDuplicateSpans]]).
    */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    val lines = docs
      .select(col(idCol), posexplode(fsplit(col(textCol), "\n")).as(Seq("pos", "line")))
    // "non-empty" = contains a non-whitespace char (trim() strips only
    // spaces — a tab-only line would otherwise key as hash(""), gluing
    // every blank-ish line in the corpus into one dedup group)
    val content = lines.filter(col("line").rlike("\\S"))
      .withColumn("lk", TextOps.lineKey(col("line")))
    val dupFirst = content.groupBy("lk")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("lk"), col("__first"))
    val dropped = content.join(dupFirst.hint("shuffle_hash"), Seq("lk"))
      .filter(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
    rebuildWithoutLines(docs, idCol, textCol, dropped)
  }

  /** Reassemble `docs` with the `(id, pos)` rows of `dropped` removed —
    * shared by [[dedupLines]] and [[linesAgainstIndex]]. Untouched docs
    * pass through VERBATIM; a touched doc whose every line dropped
    * reassembles to "".
    *
    * r14 (guide §3.3 — explode after the join, not before): the rebuild
    * side joins `docs` to the touched-id set FIRST and only then
    * re-splits the text — the superseded shape exploded EVERY doc's
    * lines and filtered afterwards (a semi-join cannot be pushed below
    * a generator), paying the full batch's split+explode again for a
    * rebuild that touches only duplicated documents.
    */
  private def rebuildWithoutLines(docs: DataFrame, idCol: String,
      textCol: String, dropped: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    val touched = dropped.select(col(idCol)).distinct()
    val rebuilt = docs.join(touched, Seq(idCol))
      .select(col(idCol),
        posexplode(fsplit(col(textCol), "\n")).as(Seq("pos", "line")))
      .join(dropped, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("line")))).as("__ls"))
      .withColumn("__t2",
        array_join(transform(col("__ls"), x => x.getField("line")), "\n"))
      .select(col(idCol), col("__t2"))
    docs
      .join(touched.withColumn("__touched", lit(true)), Seq(idCol), "left")
      .join(rebuilt, Seq(idCol), "left")
      // touched + no surviving lines (single-line doc, line dropped)
      // reassembles to "" — verbatim pass-through is only for UNtouched
      .withColumn(textCol,
        when(col("__touched").isNull, col(textCol))
          .otherwise(coalesce(col("__t2"), lit(""))))
      .select(docs.columns.map(col): _*)
  }

  // ---- line-level stored index -----------------------------------------
  //
  // The cross-snapshot lifecycle for LINE dedup (p37's rule), closing
  // the stored-index matrix: exact-doc / minhash / cosine / hamming all
  // have save → screen → merge; line-level boilerplate is the remaining
  // family a recurring crawl re-pays per batch without one. Same
  // append-only partial-group monoid as the exact index: `$path/index`
  // holds (lk, doc, pos, cnt) rows combined by (min (doc, pos), sum cnt)
  // — merges append, history is never rewritten.

  /** Persist the line-key state of `docs` (first occurrence + count per
    * distinct non-whitespace line key) as a stored line index.
    */
  def saveLineIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    Seq(("line_md5_60", 60)).toDF("family", "key_bits")
      .write.mode("overwrite").parquet(s"$path/meta")
    lineKeyGroups(docs, idCol, textCol)
      .sortWithinPartitions("lk")
      .write.mode("overwrite").parquet(s"$path/index")
  }

  /** One partial group per distinct line key of `docs`:
    * (lk, doc, pos, cnt) with (doc, pos) = the first occurrence.
    */
  private def lineKeyGroups(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    docs
      .select(col(idCol).cast("long").as("__doc"),
        posexplode(fsplit(col(textCol), "\n")).as(Seq("pos", "line")))
      .filter(col("line").rlike("\\S"))
      .withColumn("lk", TextOps.lineKey(col("line")))
      .groupBy("lk")
      .agg(min(struct(col("__doc").as("doc"), col("pos").cast("long").as("pos")))
        .as("__f"), count(lit(1)).as("cnt"))
      .select(col("lk"), col("__f.doc").as("doc"), col("__f.pos").as("pos"),
        col("cnt").cast("long").as("cnt"))
  }

  /** The stored line-key partials back from [[saveLineIndex]], meta
    * validated + the per-file probe (keys must fit the 60-bit md5
    * family — a foreign-engine append with 64-bit hashes would
    * silently stop matching the batch's keys).
    */
  def loadLineIndex(spark: SparkSession, path: String): DataFrame =
    loadLineIndexM(spark, path)._1

  /** [[loadLineIndex]] plus the collected meta (r14 single-read). */
  private[pipeline] def loadLineIndexM(spark: SparkSession,
      path: String): (DataFrame, IndexMeta) = {
    val m = readIndexMeta(spark, path, "loadLineIndex",
      Some(("line_md5_60", "foreign key material would silently stop " +
        "matching batch lines")),
      Seq("key_bits"))
    val bits = m.int("key_bits")
    val idx = Parquet.read(spark, s"$path/index")
    require(Seq("lk", "doc", "pos", "cnt").forall(idx.columns.contains),
      s"loadLineIndex: not a line index at $path: ${idx.columns.mkString(",")}")
    probeEach(spark, s"$path/index") { f =>
      val r = Parquet.read(spark, f).select(col("lk").cast("long"))
        .limit(1).collect()
      r.headOption.foreach { row =>
        val k = row.getLong(0)
        require(k >= 0 && (bits == 64 || k < (1L << bits)),
          s"loadLineIndex: file $f carries key $k outside the " +
            s"$bits-bit family at $path")
      }
    }
    (idx, m)
  }

  /** Screen a batch's LINES against the stored line index — the p37
    * rule under the cross-snapshot temporal contract: a batch line is
    * dropped when its key exists ANYWHERE in the stored corpus (the
    * corpus was ingested first, so its occurrence wins regardless of
    * ids), or when an earlier batch occurrence (smaller (doc, pos))
    * carries the same key. Whitespace-only lines always pass; untouched
    * docs pass VERBATIM; returns the rewritten batch docs.
    *
    * Shuffle ledger (`broadcastBatch = true`, the serving contract):
    * the batch's distinct keys broadcast and SEMI-FILTER the stored
    * index scan, and only the matching keys come back (bounded by the
    * batch) — the corpus contributes one narrow columnar scan and zero
    * shuffles; every remaining exchange is batch-proportional.
    */
  def linesAgainstIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    linesScreenBody(newDocs, indexPath, idCol, textCol, broadcastBatch, None)

  /** Build (or REBUILD after folds) the line index's bloom sidecar over
    * the stored 60-bit line keys — [[linesAgainstIndexBloom]]'s fast
    * path. Same drift-stamp/loud-failure contract as [[buildExactBloom]].
    */
  def buildLineBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    val idx = loadLineIndex(spark, indexPath)
    writeBloomSidecar(indexPath, s"$indexPath/index",
      idx.select(col("lk").cast("long").as("k")),
      "line_lk60", expectedItems, fpp)
  }

  def loadLineBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/index",
      "line_lk60", "buildLineBloom")

  /** [[linesAgainstIndex]] with the bloom fast path: batch line keys the
    * sketch rules out never consult the stored index — on a frontier
    * batch that is mostly fresh prose, the broadcast key set and the
    * index row groups it touches shrink to the sketch-positive minority
    * (true boilerplate + fpp). No false negatives ⇒ the rewritten batch
    * is IDENTICAL to the unbloomed screen's.
    */
  def linesAgainstIndexBloom(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    linesScreenBody(newDocs, indexPath, idCol, textCol, broadcastBatch,
      Some(loadLineBloom(newDocs.sparkSession, indexPath)))

  private def linesScreenBody(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter],
      idxOverride: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.functions.{split => fsplit}
    val spark = newDocs.sparkSession
    val idx = idxOverride.getOrElse(loadLineIndex(spark, indexPath))
    val lines = newDocs
      .select(col(idCol), posexplode(fsplit(col(textCol), "\n"))
        .as(Seq("pos", "line")))
    val content = lines.filter(col("line").rlike("\\S"))
      .withColumn("lk", TextOps.lineKey(col("line")))
      .persistTracked()
    // sketch-negative keys are DEFINITELY not in the corpus (no false
    // negatives), so gating the probe set loses nothing: hitKeys — and
    // therefore corpusDrops and fresh — are unchanged by construction
    val probe = corpusBloom match {
      case Some(bf) => content.filter(
        graft.functions.BloomMightContain(col("lk").cast("long"), bf))
      case None => content
    }
    val bKeys = probe.select("lk").distinct()
    val hitKeys = (if (broadcastBatch)
        idx.join(broadcast(bKeys), Seq("lk"), "left_semi")
      else idx.join(bKeys, Seq("lk"), "left_semi"))
      .select("lk").distinct()
    // every batch occurrence of a corpus-known key is dropped
    val corpusDrops = content
      .join(if (broadcastBatch) broadcast(hitKeys) else hitKeys,
        Seq("lk"), "left_semi")
      .select(col(idCol), col("pos"))
    // keys NOT in the corpus dedup within the batch (p37's rule)
    val fresh = content.join(
      if (broadcastBatch) broadcast(hitKeys) else hitKeys,
      Seq("lk"), "left_anti")
    val dupFirst = fresh.groupBy("lk")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("lk"), col("__first"))
    val batchDrops = fresh.join(dupFirst.hint("shuffle_hash"), Seq("lk"))
      .filter(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos"))
    rebuildWithoutLines(newDocs, idCol, textCol,
      corpusDrops.unionByName(batchDrops))
  }

  /** Fold a batch INTO the stored line index: the batch's own partial
    * groups are APPENDED as new files (O(batch); readers combine by the
    * (min (doc, pos), sum cnt) monoid, so N appends serve identically
    * to a rebuild). Fold the RAW batch — occurrence counts are part of
    * the served state.
    */
  def mergeIntoLineIndex(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String): Unit = {
    val spark = newDocs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoLineIndex")
    loadLineIndex(spark, indexPath) // validates family before writing
    lineKeyGroups(newDocs, idCol, textCol)
      .sortWithinPartitions("lk")
      .write.mode("append").parquet(s"$indexPath/index")
  }

  /** [[compactExactIndex]] for the LINE family: one (lk, doc, pos,
    * cnt) row per key after N folds — winner = the lexicographic-min
    * (doc, pos) across non-NULL partials (a deletion's NULL winner is
    * skipped, the exact family's rule; all-NULL stays NULL), count =
    * the sum. Serving (key existence) is byte-identical before and
    * after. Bloom sidecar not carried (file-stamp rule) — rebuild via
    * [[buildLineBloom]].
    */
  def compactLineIndex(spark: SparkSession, indexPath: String,
      outPath: String): Unit = {
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "compactLineIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "compactLineIndex")
    val idx = loadLineIndex(spark, indexPath)
    import spark.implicits._
    Seq(("line_md5_60", 60)).toDF("family", "key_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    idx.groupBy("lk")
      .agg(min(when(col("doc").isNotNull,
          struct(col("doc"), col("pos")))).as("__f"),
        sum(col("cnt")).as("cnt"))
      .select(col("lk"), col("__f.doc").as("doc"),
        col("__f.pos").as("pos"), col("cnt"))
      .sortWithinPartitions("lk")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** [[deleteFromExactIndex]] for the LINE family (the screen
    * RefinedWeb-style pipelines run most — takedowns must purge
    * boilerplate state too, or a forgotten page's unique lines keep
    * suppressing future content): subtract the deleted docs' own
    * recomputed line-key partials ([[lineKeyGroups]] over the delete
    * list) and rewrite to `outPath`, O(index + deleted lines). Same
    * contract, one family-specific easing: a surviving key whose
    * stored first-(doc, pos) winner belongs to a deleted DOC carries
    * NULL doc/pos — and here that costs serving NOTHING, because the
    * line screens consume key existence only ([[linesScreenBody]]
    * never reads the winner). Misuse (keys the index never saw,
    * over-delete, duplicate delete ids, in-place rewrite) raises
    * loudly inside the projected count; the bloom sidecar is not
    * carried — rebuild via [[buildLineBloom]].
    */
  def deleteFromLineIndex(deletedDocs: DataFrame, indexPath: String,
      outPath: String, idCol: String, textCol: String): Unit = {
    val spark = deletedDocs.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromLineIndex: outPath must differ from indexPath — a " +
        "reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromLineIndex")
    val nDel = deletedDocs.count()
    val nDelIds = deletedDocs.select(col(idCol)).distinct().count()
    require(nDel == nDelIds,
      s"deleteFromLineIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids — counts would double-subtract")
    val totals = loadLineIndex(spark, indexPath)
      .groupBy("lk")
      .agg(min(struct(col("doc"), col("pos"))).as("__f"),
        sum(col("cnt")).as("cnt"))
      .select(col("lk"), col("__f.doc").as("doc"),
        col("__f.pos").as("pos"), col("cnt"))
    val del = lineKeyGroups(deletedDocs, idCol, textCol)
      .select(col("lk"), col("cnt").as("__del_cnt"))
    val delIds = deletedDocs.select(col(idCol).cast("long").as("__del_id"))
    val newCnt = col("cnt") - coalesce(col("__del_cnt"), lit(0L))
    val checkedCnt =
      when(col("cnt").isNull, raise_error(concat(
        lit("deleteFromLineIndex: delete list carries line keys the " +
          "index never saw (lk "), col("lk").cast("string"),
        lit(") — wrong index or wrong delete list"))).cast("long"))
        .when(newCnt < 0, raise_error(concat(
          lit("deleteFromLineIndex: more occurrences deleted than the " +
            "index holds for lk "), col("lk").cast("string"),
          lit(" — double delete or foreign corpus"))).cast("long"))
        .otherwise(newCnt)
    val out = totals.join(del, Seq("lk"), "full_outer")
      .join(delIds, col("doc") === col("__del_id"), "left")
      .select(col("lk"),
        when(col("__del_id").isNotNull, lit(null).cast("long"))
          .otherwise(col("doc")).as("doc"),
        when(col("__del_id").isNotNull, lit(null).cast("long"))
          .otherwise(col("pos")).as("pos"),
        checkedCnt.as("cnt"))
      .filter(col("cnt") > 0)
    import spark.implicits._
    Seq(("line_md5_60", 60)).toDF("family", "key_bits")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    out.sortWithinPartitions("lk")
      .write.mode("overwrite").parquet(s"$outPath/index")
  }

  /** [[saveLineIndex]] in the backfill layout (r12 verdict gap #2): the
    * same (lk, doc, pos, cnt) partial-group relation, `bucketBy(lk)` as
    * an external catalog table (still plain-parquet readable), meta
    * additionally pins n_buckets. [[linesAgainstIndexBucketed]]'s
    * semi-filter then consumes the table's own hash partitioning, so
    * the corpus side never exchanges at ANY batch size — the screen a
    * RefinedWeb-style historical re-screen runs, where the batch is too
    * big to broadcast and the broadcast form's fallback would reshuffle
    * the full stored corpus per batch.
    */
  def saveLineIndexBucketed(docs: DataFrame, idCol: String,
      textCol: String, path: String, nBuckets: Int = 64,
      tablePrefix: String = ""): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    Seq(("line_md5_60", 60, nBuckets)).toDF("family", "key_bits", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(lineKeyGroups(docs, idCol, textCol),
      s"$path/index", s"${prefix}_line", Seq("lk"), nBuckets)
  }

  /** The backfill-scale line screen: identical rewritten-batch relation
    * to [[linesAgainstIndex]], but the stored side is the bucketed
    * catalog table — the corpus-side semi-join runs exchange-free and
    * only the batch's distinct keys shuffle (into nBuckets partitions).
    */
  def linesAgainstIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): DataFrame = {
    val spark = newDocs.sparkSession
    // family + per-file probe; n_buckets from the same one-row read
    val (_, m) = loadLineIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "linesAgainstIndexBucketed",
      indexPath, "linesAgainstIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_line", s"$indexPath/index",
      Seq("lk"), nBuckets)
    linesScreenBody(newDocs, indexPath, idCol, textCol,
      broadcastBatch = false, corpusBloom = None,
      idxOverride = Some(spark.table(s"${prefix}_line")))
  }

  /** [[mergeIntoLineIndex]] for the bucketed layout: batch partials
    * append through the catalog table so new files carry correct
    * bucket ids.
    */
  def mergeIntoLineIndexBucketed(newDocs: DataFrame, indexPath: String,
      idCol: String, textCol: String, tablePrefix: String = ""): Unit = {
    val spark = newDocs.sparkSession
    val (_, m) = loadLineIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoLineIndexBucketed",
      indexPath, "mergeIntoLineIndex")
    val prefix =
      if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.appendBucketed(lineKeyGroups(newDocs, idCol, textCol),
      s"$indexPath/index", s"${prefix}_line", Seq("lk"), nBuckets)
  }

  // ---- duplicated-span removal ----------------------------------------

  /** Exact duplicated-substring removal (the Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better" technique, restated as
    * Spark relational algebra instead of a suffix array): every duplicated
    * span of `k` consecutive whitespace tokens is removed from all but its
    * first occurrence — first = smallest `(doc id, position)` — and the
    * surviving tokens are reassembled in order. Word case is preserved
    * (dedup keys are case-sensitive; unlike [[minhashLshPairs]] this
    * operator rewrites text, so it must not normalize what it keeps).
    *
    * Caveats a user must know:
    *   - "Exact" is exact UP TO the 60-bit gram hash: two DIFFERENT
    *     k-gram strings colliding on hash60 would delete non-duplicate
    *     text. Birthday bound: P(any collision) ≈ g²/2⁶¹ for g distinct
    *     grams — negligible at 10⁷ grams (~10⁻⁷) but ~0.4 at 10⁹ and
    *     near-certain at the 100 TB corpus scale (10¹¹⁺ grams). At that
    *     scale verify candidate spans against the real strings (one
    *     extra join of marked occurrences back to their k-gram text)
    *     or widen the key; this implementation is collision-unchecked
    *     by design and says so.
    *   - Documents that LOSE a span are reassembled by joining surviving
    *     tokens with single spaces — runs of whitespace in the kept text
    *     collapse. Documents with NO duplicated span pass through
    *     VERBATIM (byte-identical, whitespace untouched).
    *
    * Plan shape (all linear, all key-hashed):
    *   1. one pass emits `(doc, pos, gram-hash)` for every k-token window
    *      — O(tokens) rows, the 60-bit hash instead of the k-word string
    *      keeps shuffle rows small;
    *   2. `min(struct(doc, pos))` + count per gram hash (map-side partial
    *      aggregation — a hot gram collapses to one row per input
    *      partition before the exchange), grams seen once drop out, and a
    *      sort-free hash join back against the survivors marks every
    *      occurrence after the first. This deliberately avoids the
    *      `row_number() OVER (PARTITION BY gram)` formulation: that is a
    *      TOTAL SORT of every gram row — measured super-linear (spill
    *      knee) past ~10⁸ gram rows — where the aggregate+join shape
    *      moves only duplicated grams through the join build side;
    *   3. marked occurrences become token INTERVALS [pos, pos+k-1] and
    *      merge per doc with the classic islands window (prev-max-end) —
    *      rows proportional to duplicated text, never to the corpus
    *      (r14: this replaces a per-position explode + two `distinct`
    *      exchanges + an O(tokens) anti-join);
    *   4. one fold over each touched doc's sorted intervals slices the
    *      kept tokens back together (`aggregate` HOF — no token explode).
    *
    * Skew note: a span shared verbatim by millions of docs puts all its
    * occurrences in one gram-hash join partition — probe rows against a
    * single build entry, no straggler sort. The join build side holds one
    * row per DUPLICATED gram (`shuffle_hash`-hinted so no side is ever
    * sorted; AQE upgrades it to broadcast when small) — size it against
    * executor memory with `spark.sql.shuffle.partitions` when a corpus
    * has billions of distinct duplicated grams. Mass-shared chrome
    * belongs to [[removeBoilerplateLines]] / [[dropExactDuplicates]]
    * first; span dedup then handles the residual literal copying
    * (quotes, mirrored paragraphs) those stages miss.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span length k must be >= 2, got $k")
    import org.apache.spark.sql.functions.{split => fsplit}
    import org.apache.spark.sql.expressions.Window
    val words = docs
      .select(col(idCol),
        filter(fsplit(col(textCol), "\\s+"), t => t =!= "").as("toks"))
      .persistTracked() // read twice: gram pass + token-rebuild pass
    val grams = words
      .filter(size(col("toks")) >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("toks")) - k),
        p => TextOps.hash60(array_join(slice(col("toks"), p + 1, lit(k)), " "))))
        .as(Seq("pos", "gh")))
    val firstOcc = grams
      .groupBy("gh")
      .agg(min(struct(col(idCol), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("gh"), col("__first"))
    // r14 optimization (guide §2.4): the covered-position bookkeeping is
    // now the INTERVAL-ISLANDS form [[removeDuplicateCharSpans]] already
    // uses — each marked occurrence is the token interval [pos, pos+k-1],
    // overlapping/adjacent intervals merge per doc, and one fold slices
    // the kept tokens back together. The superseded shape exploded every
    // marked occurrence to k (doc, pos) rows, `distinct()`ed them (one
    // exchange), `distinct()`ed the ids again (another), re-exploded
    // EVERY token of every touched doc, anti-joined per position (a third
    // exchange of O(tokens) rows) and re-sorted them into an array —
    // interval rows are duplicated-text-proportional, token rows are not.
    val removed = grams
      .join(firstOcc.hint("shuffle_hash"), Seq("gh"))
      .filter(struct(col(idCol), col("pos")) =!= col("__first"))
      .select(col(idCol), col("pos").as("s"),
        (col("pos") + lit(k - 1)).as("e")) // 0-based token intervals
    // islands: merge overlapping/adjacent covered intervals per doc (the
    // window partitions by doc over REMOVED occurrences only — rows
    // proportional to duplicated text, never to the corpus)
    val wDoc = Window.partitionBy(idCol).orderBy("s")
    val merged = removed
      .withColumn("__pme",
        max(col("e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ni",
        when(col("__pme").isNull || col("s") > col("__pme") + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__ni")).over(wDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    // fold once over the sorted intervals: keep the token slices BETWEEN
    // them (1-based slice cursor over the 0-based intervals), join with
    // single spaces — identical reassembly to the old anti-join form,
    // including "" for a fully covered doc. Only documents that actually
    // lose tokens are reassembled; everything else passes through
    // verbatim (no silent whitespace normalization of untouched text).
    val rebuilt = words.join(merged, Seq(idCol))
      .withColumn("__t2", array_join(
        aggregate(col("__ivs"),
          struct(lit(1).as("pos"),
            typedLit(Array.empty[String]).as("out")),
          (acc, iv) => struct(
            (iv.getField("e") + lit(2)).as("pos"),
            concat(acc.getField("out"),
              slice(col("toks"), acc.getField("pos"),
                iv.getField("s") + lit(1) - acc.getField("pos"))).as("out")),
          acc => concat(acc.getField("out"),
            slice(col("toks"), acc.getField("pos"),
              size(col("toks")) - acc.getField("pos") + 1))),
        " "))
      .select(col(idCol), col("__t2"))
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__t2").isNull, col(textCol)).otherwise(col("__t2")))
      .select(docs.columns.map(col): _*)
  }

  /** CHARACTER-level exact duplicated-substring removal — the regime of
    * Lee et al. 2022 that [[removeDuplicateSpans]]'s whitespace-token
    * k-grams cannot reach: duplicated runs shorter than k tokens, runs
    * whose boundaries fall mid-word, and duplication in unsegmented
    * scripts. Every substring of `minLen` consecutive code points that
    * occurs more than once in the corpus is removed from all but its
    * first occurrence (first = smallest `(doc id, char position)`);
    * maximal duplicated runs longer than `minLen` are covered by their
    * overlapping windows and removed whole. Documents that lose nothing
    * pass through VERBATIM.
    *
    * Where Lee et al. build a suffix array over the concatenated corpus,
    * this restates the same "mark every position inside a duplicated
    * window ≥ threshold" semantics as linear relational algebra — the
    * shape that distributes: a suffix array is a global sorted structure,
    * a window-hash shuffle is embarrassingly key-parallel.
    *
    * Plan shape (all linear, all key-hashed):
    *   1. ONE pass per document emits every `minLen`-char window hash via
    *      the codegen'd rolling kernel [[graft.functions.CharWindowHashes]]
    *      — O(chars) work and O(chars) rows (a per-window re-hash would
    *      be O(chars·minLen) work: the factor the rolling update removes);
    *   2. `min(struct(doc, pos))` + count per window hash, then a
    *      sort-free hash join back against the duplicated-window
    *      survivors — same aggregate+join shape as
    *      [[removeDuplicateSpans]] step 2 and for the same reason: the
    *      row_number-over-hash formulation total-sorts every window row
    *      (O(chars) of them — measured super-linear past ~10⁸ rows from
    *      the spill knee), while partial aggregation collapses hot
    *      windows before the exchange and singleton windows never reach
    *      the join;
    *   3. covered char INTERVALS merge per doc with the classic islands
    *      window (prev-max-end), so rebuild touches one row per merged
    *      interval, NOT one per character;
    *   4. one fold over each touched doc's sorted intervals slices the
    *      kept text back together (`aggregate` HOF — no char explode).
    *
    * Hash-collision caveat: identical to [[removeDuplicateSpans]] but in
    * the 64-bit wraparound ring (birthday ≈ w²/2⁶⁵) — see
    * [[graft.functions.CharWindowHashes]]. Skew note: a substring shared
    * by millions of docs sends its occurrences to one join partition as
    * probe rows against one build entry — no straggler sort; the join
    * build side is one row per duplicated window (AQE-broadcast when
    * small). Run [[removeBoilerplateLines]] / [[dropExactDuplicates]]
    * first, as with token spans.
    */
  def removeDuplicateCharSpans(docs: DataFrame, idCol: String,
      textCol: String, minLen: Int): DataFrame = {
    require(minLen >= 2, s"substring length minLen must be >= 2, got $minLen")
    import org.apache.spark.sql.expressions.Window
    val wins = docs.select(col(idCol),
        posexplode(graft.functions.CharWindowHashes(col(textCol), minLen))
          .as(Seq("p0", "wh")))
      .select(col(idCol), (col("p0") + 1).as("s"), col("wh")) // 1-based chars
    val firstWin = wins
      .groupBy("wh")
      .agg(min(struct(col(idCol), col("s"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
      .select(col("wh"), col("__first"))
    val removed = wins
      .join(firstWin.hint("shuffle_hash"), Seq("wh"))
      .filter(struct(col(idCol), col("s")) =!= col("__first"))
      .select(col(idCol), col("s"), (col("s") + lit(minLen - 1)).as("e"))
    // islands: merge overlapping/adjacent covered intervals per doc
    val wDoc = Window.partitionBy(idCol).orderBy("s")
    val merged = removed
      .withColumn("__pme",
        max(col("e")).over(wDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__ni",
        when(col("__pme").isNull || col("s") > col("__pme") + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__ni")).over(wDoc))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("s").as("s"), max("e").as("e"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    // fold once over the sorted intervals: emit the text BETWEEN them
    val rebuilt = docs.join(merged, Seq(idCol))
      .withColumn("__t2",
        aggregate(col("__ivs"),
          struct(lit(1).as("pos"), lit("").as("out")),
          (acc, iv) => struct(
            (iv.getField("e") + 1).as("pos"),
            concat(acc.getField("out"),
              col(textCol).substr(acc.getField("pos"),
                iv.getField("s") - acc.getField("pos"))).as("out")),
          acc => concat(acc.getField("out"),
            col(textCol).substr(acc.getField("pos"),
              length(col(textCol)) - acc.getField("pos") + 1))))
      .select(col(idCol), col("__t2"))
    docs.join(rebuilt, Seq(idCol), "left")
      .withColumn(textCol,
        when(col("__t2").isNull, col(textCol)).otherwise(col("__t2")))
      .select(docs.columns.map(col): _*)
  }

  // ---- duplicate clusters ---------------------------------------------

  /** Resolve near-dup PAIRS into duplicate clusters (connected
    * components): iterative min-label propagation — each round every doc
    * adopts the smallest label among itself and its neighbors, until a
    * fixpoint. Returns (doc, cluster_id) where cluster_id is the
    * smallest doc id in the component.
    *
    * Near-dup components are stars/cliques with tiny diameter, so this
    * converges in 2-4 rounds; each round is one shuffle join + one
    * aggregate plus a pointer-jumping join (label := label's label),
    * all distributed (the driver loop only checks the changed count —
    * the standard iterative-Spark shape, no data collected). Pointer
    * jumping halves chains each round, so convergence is O(log
    * diameter) and the default `maxIterations` = 20 covers components
    * of diameter ~2^20; if the cap is still hit, the method THROWS
    * rather than silently returning split clusters.
    */
  def duplicateClusters(pairs: DataFrame, maxIterations: Int = 20,
      driverUnionFindMax: Long = 1000000L): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
      .persistTracked()
    // The pair relation is a REDUCED artifact — near-dup pairs number
    // far below corpus rows — so up to ~1M pairs (≈16 MB) a driver-side
    // union-find beats rounds of distributed shuffles outright (the same
    // size-threshold logic as broadcast joins). Larger graphs take the
    // shuffle-round propagation below. Driver memory is bounded in BOTH
    // pairs and nodes: each pair introduces at most 2 nodes, so the
    // pair gate also caps nodes at 2×driverUnionFindMax (a pathological
    // star graph near the gate holds ~1M+1 nodes ≈ 32 MB of map — fine).
    // The fast path requires LONG doc ids (it reads rows with getLong
    // and emits a long-typed result); any other id type — string, int —
    // falls through to the type-generic distributed propagation.
    //
    // r13 optimization: the size gate and the pair fetch are ONE action —
    // collect up to cap+1 undirected pairs (limit stops early on an
    // over-cap graph); exactly cap+1 rows back means "too big, take the
    // distributed path". The previous shape paid a full count() job AND
    // a collect() job over the same cached relation per invocation.
    val longIds = edges.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // r14 (ADVICE): the fast path needs a `limit(cap+1)` representable as
    // a positive Int — for driverUnionFindMax >= Int.MaxValue the old
    // min()-clamp silently TRUNCATED the edge set (and Long.MaxValue+1
    // wrapped to limit(0)); such a cap means "always union-find on the
    // driver", which the driver cannot honor anyway, so take the
    // distributed path instead of collecting a truncated graph.
    if (longIds && driverUnionFindMax < Int.MaxValue.toLong) {
      val spark = pairs.sparkSession
      val undirected = edges.filter(col("src") < col("dst"))
        .limit(driverUnionFindMax.toInt + 1)
        .collect()
      if (undirected.length <= driverUnionFindMax) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        undirected.foreach { row =>
          val (a, b) = (row.getLong(0), row.getLong(1))
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val docs = parent.keySet ++ parent.values
        val rows = docs.toSeq.map(d => (d, find(d)))
        edges.unpersist()
        import spark.implicits._
        return rows.toDF("doc", "cluster_id")
      }
    }
    // Each round references the previous round's labels FOUR times (the
    // propagation join twice, the pointer-jump self-join doubling it),
    // so the LOGICAL plan grows 4^rounds if lineage is left to nest —
    // the analyzer OOMs near round 7 regardless of data size. An eager
    // localCheckpoint per round materializes the (node-sized) label
    // table AND truncates the plan to a leaf; out-of-scope checkpoint
    // RDDs from prior rounds are released by the ContextCleaner.
    var labels = edges.select(col("src").as("doc")).distinct()
      .withColumn("label", col("doc"))
      .localCheckpoint()
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIterations) {
      val neighborMin = edges
        .join(labels.select(col("doc").as("dst"), col("label").as("nl")), "dst")
        .groupBy(col("src").as("doc"))
        .agg(min("nl").as("min_nbr"))
      val prop = labels.join(neighborMin, Seq("doc"), "left")
        .select(col("doc"), col("label").as("__old"),
          least(col("label"), coalesce(col("min_nbr"), col("label"))).as("label"))
      // pointer jumping: replace each label with its LABEL'S label
      // (labels only shrink, so label(label(x)) <= label(x)) — the
      // chain-halving step that makes convergence O(log diameter)
      // instead of O(diameter), so `maxIterations` rounds cover
      // components of diameter ~2^maxIterations rather than
      // maxIterations (a >20-diameter chain would otherwise silently
      // yield split clusters once the graph exceeds the driver gate)
      val next = prop.as("x")
        .join(prop.select(col("doc").as("__ld"), col("label").as("__ll")),
          col("x.label") === col("__ld"), "left")
        .select(col("x.doc").as("doc"), col("x.__old").as("__old"),
          least(col("x.label"), coalesce(col("__ll"), col("x.label"))).as("label"))
        .localCheckpoint() // ONE materializing job per round + lineage cut
      changed = next.filter(col("label") =!= col("__old")).count()
      labels = next.select("doc", "label")
      it += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"duplicateClusters: label propagation did not converge after " +
          s"$maxIterations rounds (with pointer jumping this needs a component " +
          s"of diameter ~2^$maxIterations) — raise maxIterations")
    labels.select(col("doc"), col("label").as("cluster_id"))
  }

  /** End-to-end dedup: keep ONE canonical doc (smallest id) per
    * near-dup cluster; docs in no pair survive untouched.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val doomed = duplicateClusters(pairs)
      .filter(col("doc") =!= col("cluster_id"))
      .select(col("doc").as(idCol))
    docs.join(doomed, Seq(idCol), "left_anti")
  }

  /** Quality-ranked keep-one-per-cluster canonicalization (the
    * RefinedWeb/Dolma selection step after near-dup clustering): within
    * every duplicate cluster the representative is the HIGHEST-`quality`
    * doc (smallest id on ties) — not the smallest id, which
    * [[dropNearDuplicates]] uses when no quality signal exists — and
    * docs in no cluster keep themselves. Returns the full labeled
    * decision `(id, cluster_id, kept)` rather than a filtered corpus,
    * so downstream stages can audit WHY a doc was dropped (cluster_id
    * NULL = never a near-dup candidate).
    *
    * Scale shape: one left join docs→clusters on id, one per-cluster
    * `min(struct(-quality, id))` aggregate (map-side partial — a
    * million-doc cluster folds within each task, no hot-key straggler),
    * one equality join back on cluster id. No window, no sort, no hint:
    * the cluster relation grows with the corpus, so AQE picks the join
    * strategy.
    */
  def keepClusterRepresentatives(docs: DataFrame, idCol: String,
      clusters: DataFrame, quality: Column): DataFrame = {
    val labeled = docs
      .join(clusters.withColumnRenamed("doc", idCol), Seq(idCol), "left")
    val reps = labeled.filter(col("cluster_id").isNotNull)
      .groupBy("cluster_id")
      .agg(min(struct((-quality).as("nq"), col(idCol).as("id"))).as("__r"))
      .select(col("cluster_id"), col("__r.id").as("__rep"))
    labeled.join(reps, Seq("cluster_id"), "left")
      .select(col(idCol), col("cluster_id"),
        coalesce(col(idCol) === col("__rep"), lit(true)).as("kept"))
  }

  // ---- benchmark decontamination ---------------------------------------

  /** Benchmark decontamination check: flag documents sharing any word
    * n-gram with an evaluation set (the standard guard against training
    * on test data). `benchmark` is a one-column (`sh`) relation of
    * benchmark shingles — small by construction, so it broadcasts and
    * the corpus streams through one semi-join-shaped pass; per-doc hit
    * counts support thresholded policies (flag on ≥ k collisions).
    */
  def contaminationFlags(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, n: Int): DataFrame = {
    // persist = materialization barrier: without it CollapseProject
    // inlines the tokenizer into the shingle lambda (re-tokenizing per
    // element — measured 8× slower at sf0.1)
    val hits = shingleSets(docs, idCol, textCol, n).persistTracked()
      .select(col("doc"), explode(col("sh")).as("s"))
      .join(broadcast(benchmark.select(col("sh").as("s")).distinct()), "s")
      .groupBy("doc").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  // ---- end-to-end corpus cleaning --------------------------------------

  /** The composed training-corpus cleanup pipeline, in the order a crawl
    * pipeline runs it:
    *
    *   1. strip boilerplate lines (site chrome shared across > maxLineDf
    *      docs) — BEFORE dedup, so shared chrome doesn't glue distinct
    *      documents together;
    *   2. drop exact duplicates (content hash, keep smallest id);
    *   3. find near-duplicate pairs with MinHash+LSH banding, resolve to
    *      clusters, keep one canonical doc per cluster.
    *
    * Returns the surviving docs with cleaned text. Every stage is a
    * shuffle-join/aggregate shape that scales linearly; nothing is
    * quadratic in the corpus.
    */
  def cleanCorpus(docs: DataFrame, idCol: String, textCol: String,
      maxLineDf: Int = 1000, n: Int = 3, k: Int = 32, bands: Int = 8,
      threshold: Double = 0.7): DataFrame = {
    val deboiled = removeBoilerplateLines(docs, idCol, textCol, maxLineDf)
      .persistTracked()
    val exact = dropExactDuplicates(deboiled, idCol, textCol).persistTracked()
    val pairs = minhashLshPairs(exact, idCol, textCol, n, k, bands, threshold)
    dropNearDuplicates(exact, pairs, idCol)
  }

  /** The FULL modern ingest recipe (clean-corpus v2 — the FineWeb /
    * RefinedWeb / Dolma pipeline order, each stage the already-verified
    * operator): raw HTML pages →
    *
    *   1. block-level main-content extraction
    *      ([[TextOps.mainContentBlocks]] — nav/footer/aside chrome and
    *      link-farm blocks never reach the gates);
    *   2. FineWeb line corrections ([[Quality.lineCorrections]] —
    *      counters/nav rows/numeric furniture);
    *   3. document gates, pipeline order: Gopher rules → C4 page gate
    *      → strict word-list ([[Quality.filterFunnel]]'s stack) —
    *      failures are DROPPED;
    *   4. PII scrubs in order: email/IP/phone → Luhn-validated cards →
    *      mod-97-validated IBANs (rewrites, not drops);
    *   5. exact dedup (min-id keep), then MinHash-LSH near-dup with
    *      canonical min-id component keep;
    *   6. SemDeDup-LSH over the embedding table
    *      ([[Similarity.semanticDedupLsh]], corpus-wide verdicts):
    *      survivors whose embedding is a non-kept member of a semantic
    *      cluster drop; documents without an embedding pass through.
    *
    * Returns the surviving `(id, text)` corpus. Plan shape: stages 1–4
    * are ONE projection chain over the page scan (the narrow (id, keep)
    * gate frames join back on the id); stage 5 is the banded-LSH
    * machinery; stage 6 one anti-join against the (small) non-kept id
    * frame. Gates deliberately run on the post-correction text — the
    * furniture the corrections remove is exactly what inflates line
    * counts and deflates stop-word ratios.
    */
  /** The recipe's INGEST half — extraction → line corrections → gates →
    * scrubs → exact dedup — factored out so the streaming front end
    * ([[graft.streaming.StreamingCleanCorpus]]) has a batch reference
    * to be equivalence-tested against, and so an ingest job can run
    * JUST this half (the pair-join stages usually live in a periodic
    * compactor). Returns the exact-deduped (idCol, text) survivors.
    */
  def cleanCorpusFrontEnd(pages: DataFrame, idCol: String, htmlCol: String,
      blocklist: Seq[String], minChars: Int = 25,
      maxLinkDensityPct: Int = 20): DataFrame = {
    // mc persisted too: lineCorrections references its text column in
    // FIVE output expressions, and HOF-heavy projections get no CSE —
    // without the barrier the whole extraction regex chain re-runs per
    // reference (measured ~2× on the composed bench query)
    val mc = pages.select(col(idCol),
      TextOps.mainContentBlocks(col(htmlCol), minChars, maxLinkDensityPct)
        .getField("text_main").as("text"))
      .persistTracked()
    // ONE pass for all three gates (r13 optimization): the verdicts are
    // the gates' own expression builders — identical booleans to the
    // standalone operators — over token/line arrays materialized once.
    // r14: the verdict is computed INSIDE the persisted frame as one
    // boolean column. The r13 shape filtered ABOVE the cache, and
    // predicate pushdown inlines projection aliases into a pushed
    // condition unconditionally — the committed r13 plan's gate Filter
    // carried FIFTEEN copies of the tokenizer (each toks/lines
    // reference in the fused verdict re-derived its array per row).
    // In a PROJECTION the arrays stay materialized once (CollapseProject
    // keeps multiply-referenced non-cheap aliases — the p83 funnel
    // shape, verified 1 tokenizer instance); the cache then stores one
    // extra boolean per row, NOT the arrays, and the filter downstream
    // consumes a cached attribute that pushdown cannot expand.
    val t = col("text")
    val lc = Quality.lineCorrections(mc, idCol, "text")
      .select(col(idCol), col("text_clean").as("text"))
      .withColumn("__fe_toks", TextOps.tokens(t))
      .withColumn("__fe_lines", split(t, "\n"))
      .withColumn("__fe_clean",
        array_join(filter(col("__fe_lines"), Quality.c4LineKeep(_)), "\n"))
      .withColumn("__fe_keep",
        Quality.gopherKeepExpr(t, col("__fe_toks"), col("__fe_lines")) &&
          Quality.c4KeepExpr(t, col("__fe_clean")) &&
          Quality.wordlistKeepStrictExpr(col("__fe_toks"), blocklist))
      .select(col(idCol), col("text"), col("__fe_keep"))
      .persistTracked() // feeds the fused gate pass + the scrub chain
    val gated = lc.filter(col("__fe_keep")).select(col(idCol), col("text"))
    val scrubbed = Seq(
      Quality.piiScrub(_: DataFrame, idCol, "text"),
      Quality.luhnCardScrub(_: DataFrame, idCol, "text"),
      Quality.ibanScrub(_: DataFrame, idCol, "text"))
      .foldLeft(gated)((d, f) =>
        f(d).select(col(idCol), col("text_redacted").as("text")))
      .persistTracked()
    dropExactDuplicates(scrubbed, idCol, "text")
  }

  def cleanCorpusV2(pages: DataFrame, embeddings: DataFrame,
      idCol: String, htmlCol: String, blocklist: Seq[String],
      minChars: Int = 25, maxLinkDensityPct: Int = 20,
      n: Int = 3, k: Int = 32, bands: Int = 8, threshold: Double = 0.4,
      semK: Int = 16, semTau: Double = 0.35, semTables: Int = 16,
      semPlanes: Int = 8, semDim: Int = 64, semStarCap: Int = 24)
      : DataFrame = {
    val exact = cleanCorpusFrontEnd(pages, idCol, htmlCol, blocklist,
      minChars, maxLinkDensityPct).persistTracked()
    val pairs = minhashLshPairs(exact, idCol, "text", n, k, bands, threshold)
    val nd = dropNearDuplicates(exact, pairs, idCol)
    // a crawl ingest may carry NO embedding table at all (the WARC →
    // corpus path embeds AFTER cleaning, not before): with an empty
    // frame the semantic stage is skipped outright — consistent with
    // the documented rule that docs without an embedding pass through
    if (embeddings.isEmpty) nd
    else {
      val semDrop = Similarity.semanticDedupLsh(embeddings, semK, semTau,
          tables = semTables, planesPerTable = semPlanes, dim = semDim,
          starCapBucket = semStarCap)
        .filter(!col("kept"))
        .select(col("vec_id").as(idCol))
      nd.join(semDrop, Seq(idCol), "left_anti")
    }
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash signatures computed the codegen-friendly way: explode
    * tokens, one hash-aggregate with 48 integral sums (whole-stage
    * codegen, no interpreted lambdas). Semantics: 48-bit SimHash over
    * whitespace tokens, frequency-weighted — bit p is set when the sum
    * over tokens of ±1 (by bit p of the token's 48-bit hash) is ≥ 0;
    * per-bit integer sums are order-independent, and all bit math stays
    * below 2^53 so the SQL oracle's double-precision floor-division
    * extracts identical bits.
    */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perToken = docs
      .select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("t"))
      .withColumn("h", hash48(col("t")))
    val bitSums = (0 until 48).map { p =>
      sum((shiftright(col("h"), p) % 2) * 2 - 1).as(s"s$p")
    }
    perToken.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc"),
        (0 until 48).map(p =>
          when(col(s"s$p") >= 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
  }

  /** SimHash near-dup pairs under a Hamming-distance cutoff, found by
    * pigeonhole banding (LOSSLESS): split the 48-bit signature into
    * `maxHamming + 1` contiguous bit bands — a pair within Hamming ≤
    * maxHamming differs in at most maxHamming bands, so it must agree
    * EXACTLY on at least one band. Candidates come from an equality
    * shuffle join on (band, band bits), then the true Hamming distance
    * filters them: results are identical to the all-pairs compare with
    * no cartesian product (the web-scale simhash shape — Manku et al.,
    * WWW'07, "Detecting Near-Duplicates for Web Crawling" §3; reference
    * semantics pin: near-dup screening per SURVEY.md §2 pipeline ops).
    *
    * Per-band selectivity is 2^(48/(maxHamming+1)) — it decays
    * exponentially in the cutoff, so keep maxHamming modest at corpus
    * scale (6 bands of 8 bits at the default 5 ⇒ each band partitions
    * the corpus 256 ways). A cutoff ≥ 48 keeps every pair by definition
    * and degenerates to the O(n²) compare (retained for tiny corpora /
    * recall baselines).
    *
    * Hot-bucket note: a flood of IDENTICAL signatures (mass-duplicated
    * boilerplate docs) makes its bucket quadratic — but those are exact
    * duplicates, which belong to [[dropExactDuplicates]] BEFORE near-dup
    * screening (the [[cleanCorpus]] ordering); after exact dedup,
    * signature collisions are bounded by genuine near-dup cluster sizes.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, nBlocks: Int = 0): DataFrame =
    hammingPairs48(simhashSignatures(docs, idCol, textCol), "doc", "sh",
      maxHamming, nBlocks)

  /** Hamming-cutoff pairs over ANY 48-bit signature relation — the
    * pigeonhole banding factored out of [[simhashPairs]] so
    * perceptual image hashes ([[Multimodal.imageDHash]]) and any
    * future 48-bit fingerprint reuse the identical lossless machinery
    * (and its oracle SQL form). Semantics, banding math, and hot-bucket
    * caveats exactly as documented on [[simhashPairs]].
    */
  def hammingPairs48(sigDf: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, nBlocks: Int = 0): DataFrame = {
    val sh = sigDf.select(col(idCol).as("doc"), col(sigCol).as("sh")).persistTracked()
    val pairSelect = (df: DataFrame) => df
      .withColumn("hamming",
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"), col("hamming"))
    if (maxHamming >= 48) {
      pairSelect(sh.as("a").join(sh.as("b"), col("a.doc") < col("b.doc")))
    } else {
      val banded = sh.select(col("doc"), col("sh"),
        explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
        .select(col("doc"), col("sh"), col("__bb.band"), col("__bb.bits"))
      // a pair can agree on several bands → dedupe after the verify
      pairSelect(banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc") < col("b.doc")))
        .distinct()
    }
  }

  /** The block-combination geometry behind [[hammingBands48]]: the 48
    * bits split into `nBlocks` contiguous blocks, and every
    * `nBlocks - maxHamming`-subset of blocks (lexicographic order)
    * becomes one join key. Pigeonhole: a pair within Hamming <=
    * maxHamming differs in at most maxHamming blocks, so it agrees
    * EXACTLY on every block of at least one subset — banding stays
    * LOSSLESS for any nBlocks > maxHamming (Manku et al., WWW'07 §3).
    *
    * THE SCALE KNOB: at the minimum nBlocks = maxHamming + 1 (the
    * default everywhere), subsets are single blocks and each key
    * carries only 48/(h+1) bits — the candidate law is
    * `(h+1) * batch * corpus / 2^(48/(h+1))`, whose denominator is
    * FIXED while batch and corpus grow (at h=2: 2^16 — the p82 decade
    * row's residual growth term). Raising nBlocks widens every key to
    * ~48*(nBlocks-h)/nBlocks bits at the cost of C(nBlocks, h) cells
    * per doc: candidates ~= C(m,h) * batch * corpus / 2^(48*(m-h)/m),
    * an EXPONENTIAL cut for a polynomial cell-count increase (h=2:
    * m=3 -> 3 cells / 2^16 keys; m=6 -> 15 cells / 2^32 keys). Size m
    * so the expected bucket load batch*corpus/2^width stays O(true
    * near-dup rate) at the target corpus.
    */
  private[pipeline] def hammingGeometry(maxHamming: Int, nBlocks: Int)
      : Seq[(Int, Seq[(Int, Int)])] = {
    val m = if (nBlocks == 0) maxHamming + 1 else nBlocks
    require(maxHamming >= 0 && maxHamming < 48,
      s"banding needs 0 <= maxHamming < 48: $maxHamming")
    require(m > maxHamming && m <= 48,
      s"banding needs maxHamming < nBlocks <= 48 for losslessness: " +
        s"nBlocks=$m, maxHamming=$maxHamming")
    val base = 48 / m
    val rem = 48 % m
    val widths = (0 until m).map(b => base + (if (b < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val combos = (0 until m).combinations(m - maxHamming).toSeq
    require(combos.size <= 64,
      s"C($m, $maxHamming) = ${combos.size} cells per doc — cap is 64; " +
        "use fewer blocks")
    combos.zipWithIndex.map { case (blocks, i) =>
      (i, blocks.map(b => (offsets(b), widths(b))))
    }
  }

  /** The pigeonhole band cells of a 48-bit signature at a Hamming
    * cutoff, as an array of (band, bits) structs — factored out of
    * [[hammingPairs48]] so the persisted index and the streaming
    * screen band under EXACTLY the machinery the batch pairer uses.
    * `nBlocks` (default 0 = the minimal maxHamming + 1) is the
    * band-geometry scale knob — law and losslessness proof on
    * [[hammingGeometry]]; at the default, cells are exactly the
    * historical single-block (band, bits) pairs, so stored indexes
    * and oracle replays are unchanged.
    */
  def hammingBands48(sh: Column, maxHamming: Int, nBlocks: Int = 0): Column = {
    val geom = hammingGeometry(maxHamming, nBlocks)
    array(geom.map { case (comboId, blocks) =>
      // key = the selected blocks' bits, concatenated low-to-high in
      // block order (total width <= 48 by construction, fits a long)
      val bits = blocks.foldLeft(lit(0L): Column) { case (acc, (off, w)) =>
        shiftleft(acc, w).bitwiseOR(
          shiftright(sh, off).bitwiseAND(lit((1L << w) - 1)))
      }
      struct(lit(comboId).as("band"), bits.as("bits"))
    }: _*)
  }

  /** Incremental 48-bit-signature near-dup: Hamming-cutoff pairs with
    * AT LEAST ONE side in the arriving batch — the [[hammingPairs48]]
    * twin of [[incrementalMinhashPairs]], closing the cross-snapshot
    * loop for simhash / image-dHash / audio-fingerprint corpora. Only
    * candidate generation changes: the batch's band cells equality-join
    * batch ∪ corpus cells (the corpus never re-pairs with itself);
    * the verify and its results are identical to running the full
    * pairer and keeping pairs touching the batch.
    */
  def hammingPairsIncremental(newSigs: DataFrame, corpusSigs: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int,
      broadcastBatch: Boolean = true, nBlocks: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 48,
      s"hammingPairsIncremental needs 0 <= maxHamming < 48: $maxHamming")
    def prep(df: DataFrame) =
      df.select(col(idCol).cast("long").as("doc"), col(sigCol).as("sh"))
    val newSh = prep(newSigs).persistTracked()
    val corpusSh = prep(corpusSigs)
    val newBands = newSh.select(col("doc"), col("sh"),
      explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
      .select(col("doc"), col("sh"), col("__bb.band"), col("__bb.bits"))
      .persistTracked()
    val corpusBands = corpusSh.select(col("doc"), col("sh"),
      explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
      .select(col("doc"), col("sh"), col("__bb.band"), col("__bb.bits"))
    // broadcastBatch: the bounded arriving batch probes the corpus band
    // SCAN (sigs ride along in the band rows, so there is no second
    // verify join to feed) — the corpus is never shuffled; see
    // incrementalMinhashPairsFromBands's shuffle ledger
    val aSide = if (broadcastBatch) broadcast(newBands) else newBands
    aSide.as("a")
      .join(newBands.unionByName(corpusBands).as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc") =!= col("b.doc"))
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Persist a 48-bit signature index (signatures + exploded band
    * cells + a meta row pinning the Hamming cutoff): what a media
    * crawl's dedup pass leaves behind for crawl N+1. The loader
    * VALIDATES meta — a batch banded under a different cutoff has
    * different cell widths and would silently miss duplicates.
    */
  def saveSignatureIndex(sigDf: DataFrame, path: String,
      idCol: String, sigCol: String, maxHamming: Int,
      nBlocks: Int = 0): Unit = {
    require(maxHamming >= 0 && maxHamming < 48,
      s"saveSignatureIndex needs 0 <= maxHamming < 48: $maxHamming")
    val m = if (nBlocks == 0) maxHamming + 1 else nBlocks
    hammingGeometry(maxHamming, m) // validate geometry BEFORE any write
    val spark = sigDf.sparkSession
    import spark.implicits._
    val sh = sigDf.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    // meta pins the FULL band geometry: a batch banded under a
    // different cutoff OR block count produces different cells and
    // would silently miss duplicates — the loader validates both
    Seq((maxHamming, m)).toDF("max_hamming", "n_blocks")
      .write.mode("overwrite").parquet(s"$path/meta")
    sh.write.mode("overwrite").parquet(s"$path/sigs")
    sh.select(col("doc"),
        explode(hammingBands48(col("sh"), maxHamming, m)).as("__bb"))
      .select(col("doc"), col("__bb.band"), col("__bb.bits"))
      .sortWithinPartitions("band", "bits")
      .write.mode("overwrite").parquet(s"$path/bands")
    sh.unpersist()
  }

  /** (maxHamming, nBlocks, sigs, bands) back from
    * [[saveSignatureIndex]], meta validated. Indexes persisted before
    * the geometry knob carry no n_blocks column — they were banded at
    * the minimal maxHamming + 1.
    */
  def loadSignatureIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, DataFrame, DataFrame) =
    loadSignatureIndexM(spark, path)._1

  /** [[loadSignatureIndex]] plus the collected meta (r14 single-read).
    * Indexes persisted before the geometry knob carry no n_blocks — they
    * were banded at the minimal maxHamming + 1.
    */
  private[pipeline] def loadSignatureIndexM(
      spark: org.apache.spark.sql.SparkSession,
      path: String): ((Int, Int, DataFrame, DataFrame), IndexMeta) = {
    val im = readIndexMeta(spark, path, "loadSignatureIndex", None,
      Seq("max_hamming"), optional = Seq("n_blocks"))
    val sigs = Parquet.read(spark, s"$path/sigs")
    val bands = Parquet.read(spark, s"$path/bands")
    require(Seq("doc", "sh").forall(sigs.columns.contains) &&
      Seq("doc", "band", "bits").forall(bands.columns.contains),
      s"loadSignatureIndex: not a signature index at $path")
    val h = im.int("max_hamming")
    val m = im.fields.get("n_blocks").map(_.toInt).getOrElse(h + 1)
    // per-file geometry probe (the loadMinhashIndex discipline): a
    // foreign append banded under a different (maxHamming, nBlocks)
    // lands in its own NEW band files with band ids from a different
    // combo count and keys of different widths — silently missed
    // duplicates on every later screen. One row per sampled file:
    // the band id must exist in THIS geometry and the key must fit
    // that band's bit width.
    val geom = hammingGeometry(h, m)
    val widthOf = geom.map { case (b, blocks) =>
      (b.toLong, blocks.map(_._2).sum)
    }.toMap
    probeEach(spark, s"$path/bands") { f =>
      val r = Parquet.read(spark, f)
        .select(col("band").cast("long"), col("bits").cast("long"))
        .limit(1).collect()
      r.headOption.foreach { row =>
        val (b, bits) = (row.getLong(0), row.getLong(1))
        require(widthOf.contains(b) &&
          bits >= 0 && (widthOf(b) == 64 || bits < (1L << widthOf(b))),
          s"loadSignatureIndex: file $f has cell (band=$b, bits=$bits) " +
            s"outside the meta geometry (maxHamming=$h, nBlocks=$m: " +
            s"${geom.size} bands) at $path — a foreign-geometry append " +
            "would silently miss duplicates")
      }
    }
    ((h, m, sigs, bands), im)
  }

  /** [[deleteFromMinhashIndex]] for the 48-bit signature (hamming)
    * family: both stored relations ((doc, sh) sigs + exploded band
    * cells) are PER-DOC rows, so deletion is a plain id anti-join
    * rewrite, O(index), and the deleted index is EXACTLY the index of
    * the retained signatures — no NULLed fields, no semantics caveat.
    * The shared loud contract: delete ids the index never saw raise
    * (a silently no-op takedown is a compliance bug), duplicate delete
    * ids raise, outPath must differ, and the bloom sidecar is rebuilt
    * via [[buildSignatureBloom]], never carried — a Bloom filter
    * cannot delete (clearing shared bits would create false
    * negatives).
    */
  def deleteFromSignatureIndex(deletedIds: DataFrame, indexPath: String,
      outPath: String, idCol: String): Unit = {
    val spark = deletedIds.sparkSession
    require(new org.apache.hadoop.fs.Path(outPath).toString !=
      new org.apache.hadoop.fs.Path(indexPath).toString,
      "deleteFromSignatureIndex: outPath must differ from indexPath — " +
        "a reader must never observe a half-rewritten index")
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "deleteFromSignatureIndex")
    val (maxHamming, nBlocks, sigs, bands) =
      loadSignatureIndex(spark, indexPath)
    val dels = deletedIds.select(col(idCol).cast("long").as("__del_id"))
      .persistTracked()
    val nDel = dels.count()
    val nDelIds = dels.distinct().count()
    require(nDel == nDelIds,
      s"deleteFromSignatureIndex: delete list carries ${nDel - nDelIds} " +
        "duplicate ids")
    val absent = dels.join(sigs.select(col("doc")),
      col("__del_id") === col("doc"), "left_anti").count()
    require(absent == 0,
      s"deleteFromSignatureIndex: $absent delete ids are absent from " +
        "the index — wrong index or wrong delete list (a silently " +
        "no-op takedown is a compliance bug)")
    import spark.implicits._
    Seq((maxHamming, nBlocks)).toDF("max_hamming", "n_blocks")
      .write.mode("overwrite").parquet(s"$outPath/meta")
    sigs.join(dels, col("doc") === col("__del_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/sigs")
    bands.join(dels, col("doc") === col("__del_id"), "left_anti")
      .sortWithinPartitions("band", "bits")
      .write.mode("overwrite").parquet(s"$outPath/bands")
    dels.unpersist()
  }

  /** Near-dup an arriving signature batch against the STORED index —
    * only the batch is banded fresh (under the index's OWN stored
    * cutoff, from meta), the corpus arrives pre-banded from parquet.
    * Results = [[hammingPairsIncremental]] with the stored corpus.
    */
  def hammingAgainstIndex(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    hammingScreenBody(newSigs, indexPath, idCol, sigCol, broadcastBatch, None)

  /** Build (or REBUILD after folds) the signature index's bloom sidecar
    * over `xxhash64(band, bits)` of its stored band cells — the hamming
    * family's [[buildMinhashBloom]].
    */
  def buildSignatureBloom(spark: SparkSession, indexPath: String,
      expectedItems: Long, fpp: Double = 0.01): Unit = {
    loadSignatureIndex(spark, indexPath) // geometry/meta/probe validation
    writeBloomSidecar(indexPath, s"$indexPath/bands",
      Parquet.read(spark, s"$indexPath/bands")
        .select(xxhash64(col("band"), col("bits")).as("k")),
      "signature_band_xxh64", expectedItems, fpp)
  }

  def loadSignatureBloom(spark: SparkSession, indexPath: String)
      : org.apache.spark.util.sketch.BloomFilter =
    readBloomSidecar(spark, indexPath, s"$indexPath/bands",
      "signature_band_xxh64", "buildSignatureBloom")

  /** [[hammingAgainstIndex]] with the bloom fast path — identical pairs
    * (no false negatives), corpus band scan probed only by the
    * sketch-positive batch cells.
    */
  def hammingAgainstIndexBloom(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String,
      broadcastBatch: Boolean = true): DataFrame =
    hammingScreenBody(newSigs, indexPath, idCol, sigCol, broadcastBatch,
      Some(loadSignatureBloom(newSigs.sparkSession, indexPath)))

  private def hammingScreenBody(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String, broadcastBatch: Boolean,
      corpusBloom: Option[org.apache.spark.util.sketch.BloomFilter])
      : DataFrame = {
    val spark = newSigs.sparkSession
    val (maxHamming, nBlocks, storedSigs, storedBands) =
      loadSignatureIndex(spark, indexPath)
    val newSh = newSigs.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    val newBands = newSh.select(col("doc"),
        explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
      .select(col("doc"), col("__bb.band"), col("__bb.bits"))
      .persistTracked()
    // stored bands/sigs are SCANNED, never shuffled: the broadcast batch
    // probes the band scan, and the verify side is the sig scan
    // semi-filtered by the broadcast candidate ids (the
    // incrementalMinhashPairsFromBands shuffle ledger)
    val aSide = if (broadcastBatch) broadcast(newBands) else newBands
    def cellEq = col("a.band") === col("b.band") &&
      col("a.bits") === col("b.bits") && col("a.doc") =!= col("b.doc")
    def pairs(df: DataFrame) = df
      .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
        greatest(col("a.doc"), col("b.doc")).as("doc_b"))
    val candPairs = corpusBloom match {
      case None =>
        pairs(aSide.as("a")
          .join(newBands.unionByName(storedBands).as("b"), cellEq))
      case Some(bf) =>
        val gated = newBands.filter(graft.functions.BloomMightContain(
          xxhash64(col("band"), col("bits")), bf))
        val gSide = if (broadcastBatch) broadcast(gated) else gated
        pairs(aSide.as("a").join(newBands.as("b"), cellEq))
          .unionByName(pairs(gSide.as("a").join(storedBands.as("b"), cellEq)))
    }
    val candidates = candPairs
      .distinct()
      .persistTracked()
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
    val allSigs0 = newSh.unionByName(storedSigs)
    val allSigs =
      if (broadcastBatch)
        allSigs0.join(broadcast(candIds), Seq("doc"), "left_semi").persistTracked()
      else allSigs0
    candidates
      .join(allSigs.select(col("doc").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(allSigs.select(col("doc").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** [[saveSignatureIndex]] in the backfill layout — sigs
    * `bucketBy(doc)`, band cells `bucketBy(band, bits)`, same paths,
    * plain-parquet readers unaffected; meta additionally pins
    * n_buckets. The [[saveMinhashIndexBucketed]] rationale verbatim.
    */
  def saveSignatureIndexBucketed(sigDf: DataFrame, path: String,
      idCol: String, sigCol: String, maxHamming: Int, nBlocks: Int = 0,
      nBuckets: Int = 64, tablePrefix: String = ""): Unit = {
    require(maxHamming >= 0 && maxHamming < 48,
      s"saveSignatureIndexBucketed needs 0 <= maxHamming < 48: $maxHamming")
    val m = if (nBlocks == 0) maxHamming + 1 else nBlocks
    hammingGeometry(maxHamming, m) // validate BEFORE any write
    val spark = sigDf.sparkSession
    import spark.implicits._
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(path)
    val sh = sigDf.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    Seq((maxHamming, m, nBuckets))
      .toDF("max_hamming", "n_blocks", "n_buckets")
      .write.mode("overwrite").parquet(s"$path/meta")
    BucketedTables.saveBucketed(sh, s"$path/sigs", s"${prefix}_sigs",
      Seq("doc"), nBuckets)
    BucketedTables.saveBucketed(
      sh.select(col("doc"),
          explode(hammingBands48(col("sh"), maxHamming, m)).as("__bb"))
        .select(col("doc"), col("__bb.band"), col("__bb.bits")),
      s"$path/bands", s"${prefix}_bands", Seq("band", "bits"), nBuckets)
    sh.unpersist()
  }

  /** Backfill-scale twin of [[hammingAgainstIndex]] over a
    * [[saveSignatureIndexBucketed]] index: identical pairs, corpus side
    * exchange-free (the [[nearDupAgainstIndexBucketed]] shuffle
    * ledger, hamming edition).
    */
  def hammingAgainstIndexBucketed(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String, tablePrefix: String = ""): DataFrame = {
    val spark = newSigs.sparkSession
    val ((maxHamming, nBlocks, _, _), m) = loadSignatureIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "hammingAgainstIndexBucketed",
      indexPath, "hammingAgainstIndex")
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    BucketedTables.register(spark, s"${prefix}_sigs", s"$indexPath/sigs",
      Seq("doc"), nBuckets)
    BucketedTables.register(spark, s"${prefix}_bands", s"$indexPath/bands",
      Seq("band", "bits"), nBuckets)
    val storedSigs = spark.table(s"${prefix}_sigs")
    val storedBands = spark.table(s"${prefix}_bands")
    val newSh = newSigs.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    val newBands = newSh.select(col("doc"),
        explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
      .select(col("doc"), col("__bb.band"), col("__bb.bits"))
      .persistTracked()
    def keyEq = col("a.band") === col("b.band") &&
      col("a.bits") === col("b.bits") && col("a.doc") =!= col("b.doc")
    val candBB = newBands.as("a").join(newBands.as("b"), keyEq)
      .select(col("a.doc").as("da"), col("b.doc").as("db"))
    val candBC = newBands.as("a").join(storedBands.as("b"), keyEq)
      .select(col("a.doc").as("da"), col("b.doc").as("db"))
    val candidates = candBB.unionByName(candBC)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
      .distinct().persistTracked()
    val candIds = candidates
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc")).distinct()
    val allSigs = newSh
      .unionByName(storedSigs.join(candIds, Seq("doc"), "left_semi"))
      .persistTracked()
    candidates
      .join(allSigs.select(col("doc").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(allSigs.select(col("doc").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("hamming",
        bit_count(col("sha").bitwiseXOR(col("shb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** [[mergeIntoSignatureIndex]] for the bucketed layout — see
    * [[mergeIntoMinhashIndexBucketed]].
    */
  def mergeIntoSignatureIndexBucketed(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String, assertNewIds: Boolean = false,
      tablePrefix: String = ""): Unit = {
    val spark = newSigs.sparkSession
    val ((maxHamming, nBlocks, storedSigs, _), m) =
      loadSignatureIndexM(spark, indexPath)
    val nBuckets = requireBuckets(m, "mergeIntoSignatureIndexBucketed",
      indexPath, "mergeIntoSignatureIndex")
    val prefix = if (tablePrefix.nonEmpty) tablePrefix else bucketedPrefix(indexPath)
    val sh = newSigs.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    if (assertNewIds) {
      val clash = sh.select("doc")
        .join(storedSigs.select("doc"), Seq("doc"), "left_semi").count()
      require(clash == 0,
        s"mergeIntoSignatureIndexBucketed: $clash batch ids already " +
          s"exist at $indexPath")
    }
    BucketedTables.appendBucketed(sh, s"$indexPath/sigs",
      s"${prefix}_sigs", Seq("doc"), nBuckets)
    BucketedTables.appendBucketed(
      sh.select(col("doc"),
          explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
        .select(col("doc"), col("__bb.band"), col("__bb.bits")),
      s"$indexPath/bands", s"${prefix}_bands", Seq("band", "bits"), nBuckets)
    sh.unpersist()
  }

  /** Fold a screened signature batch INTO the stored index — the
    * [[mergeIntoMinhashIndex]] twin for 48-bit signatures: the batch
    * is banded under the index's OWN stored cutoff and APPENDED as new
    * parquet files; historical rows are never rewritten, so the fold
    * is O(batch). Fold post-dedup survivors whose ids are new;
    * `assertNewIds = true` trades one stored-id scan for a loud
    * failure on a clash.
    */
  def mergeIntoSignatureIndex(newSigs: DataFrame, indexPath: String,
      idCol: String, sigCol: String, assertNewIds: Boolean = false): Unit = {
    val spark = newSigs.sparkSession
    BucketedTables.requirePlainLayout(spark, s"$indexPath/meta",
      "mergeIntoSignatureIndex")
    val (maxHamming, nBlocks, storedSigs, _) =
      loadSignatureIndex(spark, indexPath)
    val sh = newSigs.select(col(idCol).cast("long").as("doc"),
      col(sigCol).as("sh")).persistTracked()
    if (assertNewIds) {
      val clash = sh.select("doc")
        .join(storedSigs.select("doc"), Seq("doc"), "left_semi").count()
      require(clash == 0,
        s"mergeIntoSignatureIndex: $clash batch ids already exist at $indexPath")
    }
    sh.write.mode("append").parquet(s"$indexPath/sigs")
    sh.select(col("doc"),
        explode(hammingBands48(col("sh"), maxHamming, nBlocks)).as("__bb"))
      .select(col("doc"), col("__bb.band"), col("__bb.bits"))
      .sortWithinPartitions("band", "bits")
      .write.mode("append").parquet(s"$indexPath/bands")
    sh.unpersist()
  }
}
