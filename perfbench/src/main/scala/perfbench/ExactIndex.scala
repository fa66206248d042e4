package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{CacheLedger, Dedup}

/** The `pipeline` layer inside detect-batch: a stored exact-duplicate
  * index over a seeded `documents` table, driven through the stored-index
  * verbs of `graft.pipeline.Dedup`. Each cold pass saves a base index
  * and merges two batches into it (append writes); every pass sequence
  * screens a probe batch against the merged index (a read over three
  * files); the check times compaction and compares what each index
  * serves, and in a traced run also times the bloom sidecar, its screen
  * and deletion.
  */
final class ExactIndex {
  val BaseDocs = 200
  val BatchDocs = 40
  val Deletes = 5
  val BloomItems = 4000L

  private val Id = "doc_id"
  private val Text = "text"
  private val Vocab = ("key agg row scan slow fast table value part hash merge batch " +
    "spark line sort window order data column join small customer query big " +
    "stream filter group vector index crawl shard page token dedup bloom").split(" ")

  private var docs: DataFrame = _
  private var index: String = _ // the base index with two batches merged in
  private var generation = 0
  private val verbSeconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val bytesWritten = mutable.ArrayBuffer.empty[Long]
  private var pinned = 0
  private var compacted: String = _
  private var compactedBytes = 0L

  def docCount: Int = BaseDocs + 3 * BatchDocs

  /** Seeded documents of one to three lines of 4-10 words; one in eight
    * copies an earlier document's text exactly, so the probe batch meets
    * stored duplicates.
    */
  private def corpus(seed: Long): IndexedSeq[String] = {
    val r = new scala.util.Random(seed ^ 0x1de5L)
    val out = mutable.ArrayBuffer.empty[String]
    (0 until docCount).foreach { i =>
      out += (if (i > 10 && r.nextInt(8) == 0) out(r.nextInt(i))
        else Seq.fill(1 + r.nextInt(3))(
          Seq.fill(4 + r.nextInt(7))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
          .mkString("\n"))
    }
    out.toIndexedSeq
  }

  /** Writes the `documents` table into `tables` and reads it back through
    * the engine's loader, persisted. Returns the load's seconds.
    */
  def setup(ctx: Ctx, tables: String): Double = {
    val spark = ctx.spark
    import spark.implicits._
    Option(docs).foreach(_.unpersist(blocking = true))
    Tables.writeSingle(corpus(ctx.seed).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF(Id, Text), tables, "documents")
    val t0 = System.nanoTime()
    docs = graft.Tables.load(spark, tables, "documents")
    val loadS = (System.nanoTime() - t0) / 1e9
    docs = docs.persist()
    require(docs.count() == docCount, "the documents table lost rows on the way back")
    loadS
  }

  private def ids(lo: Int, n: Int): DataFrame = docs.filter(col(Id) >= lo && col(Id) < lo + n)
  private def base: DataFrame = ids(0, BaseDocs)
  private def batch(k: Int): DataFrame = ids(BaseDocs + k * BatchDocs, BatchDocs)
  private def indexed: DataFrame = ids(0, BaseDocs + 2 * BatchDocs)
  def probe: DataFrame = batch(2)

  private def nextPath(ctx: Ctx): String = {
    generation += 1
    s"${ctx.root}/idx/exact/g$generation"
  }

  private def timedVerb[T](ctx: Ctx, verb: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = ctx.tracer.span("pipeline", s"exact.$verb")(body)
    verbSeconds.getOrElseUpdate(verb, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    out
  }

  /** A write verb: its seconds, and the bytes it added under `path`. */
  private def write(ctx: Ctx, verb: String, path: String)(body: => Unit): Unit = {
    val before = ExactIndex.bytes(new File(path))
    timedVerb(ctx, verb)(body)
    bytesWritten += ExactIndex.bytes(new File(path)) - before
  }

  /** Saves the base index and merges the first two batches into it;
    * returns each write's seconds.
    */
  def cold(ctx: Ctx): Seq[(String, Double)] = {
    index = nextPath(ctx)
    ("save" -> Main.timed(write(ctx, "save", index)(Dedup.saveExactIndex(base, Id, Text, index)))) +:
      (0 until 2).map(k => s"merge$k" -> Main.timed(
        write(ctx, "merge", index)(Dedup.mergeIntoExactIndex(batch(k), index, Id, Text))))
  }

  /** The read of a pass sequence: the probe batch against the index. */
  def screen(): DataFrame = Dedup.exactAgainstIndex(probe, index, Id, Text)

  /** Frames the engine still pins at the end of a round. */
  def afterMeasure(): Unit = pinned = CacheLedger.pinned

  /** `served` holds the checksums the sequence's screens returned. */
  def verify(ctx: Ctx, served: Set[Long]): Unit = {
    val spark = ctx.spark
    def sum(path: String): Long = ctx.checksum(Dedup.exactAgainstIndex(probe, path, Id, Text))
    // the merged index serves like a fresh save of the same documents
    val fresh = nextPath(ctx)
    Dedup.saveExactIndex(indexed, Id, Text, fresh)
    ctx.check(served == Set(sum(fresh)),
      "exact index: after two merges it screens differently from a fresh rebuild")
    // the compacted index serves like the uncompacted one
    compacted = nextPath(ctx)
    write(ctx, "compact", compacted)(Dedup.compactExactIndex(spark, index, compacted))
    compactedBytes = ExactIndex.bytes(new File(compacted))
    ctx.check(served == Set(sum(compacted)),
      "exact index: the compacted index serves differently from the uncompacted one")
    // the verbs that only per-layer metrics report run in traced runs
    // only: each costs about 2 s that untraced runs need not pay
    if (ctx.traced) {
      // the bloom screen of the compacted index equals the plain screen
      write(ctx, "bloom_build", compacted)(Dedup.buildExactBloom(spark, compacted, BloomItems))
      val bloom = timedVerb(ctx, "bloom_screen")(
        ctx.checksum(Dedup.exactAgainstIndexBloom(probe, compacted, Id, Text)))
      ctx.check(served == Set(bloom), "exact index: the bloom screen differs from the plain screen")
      // deletion rewrites the index without a seeded set of base documents
      val gone = new scala.util.Random(ctx.seed).shuffle((0 until BaseDocs).toList)
        .take(Deletes).map(_.toLong)
      val afterDelete = nextPath(ctx)
      write(ctx, "delete", afterDelete)(Dedup.deleteFromExactIndex(
        docs.filter(col(Id).isin(gone: _*)), index, afterDelete, Id, Text))
    }
  }

  def layers(ctx: Ctx, screenSeconds: Double): Unit = {
    verbSeconds.foreach { case (verb, s) =>
      ctx.put(s"pipeline.index.exact.${verb}_s", Stats.median(s.toSeq), "s")
    }
    ctx.put("pipeline.index.exact.screen_s", screenSeconds, "s")
    ctx.put("pipeline.index.screen_jobs", ctx.jobsPerOp("index_screen"), "count")
    val live = new File(index)
    val bytes = ExactIndex.bytes(live)
    ctx.put("pipeline.index.bytes", bytes.toDouble, "bytes")
    ctx.put("pipeline.index.bytes_written", Stats.median(bytesWritten.map(_.toDouble).toSeq), "bytes")
    ctx.put("pipeline.index.space_amp", bytes.toDouble / compactedBytes, "ratio")
    ctx.put("pipeline.index.files", ExactIndex.dataFiles(new File(s"$index/index")).toDouble, "count")
    val rows = ctx.spark.read.parquet(s"$index/index").count()
    val keys = ctx.spark.read.parquet(s"$compacted/index").count()
    ctx.put("pipeline.index.rows_per_key", rows.toDouble / keys, "ratio")
    ctx.put("pipeline.cache_pinned", pinned.toDouble, "count")
  }
}

object ExactIndex {
  def bytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)

  def dataFiles(f: File): Int =
    Option(f.listFiles()).map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0)
}
