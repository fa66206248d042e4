package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.util.Parquet

/** Persistence for trained tokenizers — the [[AnnIO]] philosophy: at
  * corpus scale the trained artifact outlives any session (a merge
  * table or piece model is trained once and then segments months of
  * ingest), so models round-trip through plain parquet RELATIONS on
  * any Hadoop FS, never pickled objects; any engine can read them.
  *
  *   - BPE ([[Bpe.trainMerges]]): `path/merges`
  *     (rank, left, right, pair_count) — rank order IS the model;
  *   - Unigram ([[Unigram.Model]]): `path/pieces` (piece, cost_micro)
  *     + `path/meta` (unk_cost_micro, max_piece_len).
  *
  * Loads validate shape loudly (dense ranks from 0, unique pieces,
  * one meta row) — a foreign or corrupted artifact must fail, not
  * segment wrongly.
  */
object TokenizerIO {

  def saveBpe(merges: Seq[(Int, String, String, Long)], spark: SparkSession,
      path: String): Unit = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "pair_count")
      .write.mode("overwrite").parquet(s"$path/merges")
  }

  def loadBpe(spark: SparkSession, path: String): Seq[(Int, String, String, Long)] = {
    val rows = Parquet.read(spark, s"$path/merges")
      .select(col("rank").cast("int"), col("left"), col("right"),
        col("pair_count").cast("long"))
      .orderBy("rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
    rows.zipWithIndex.foreach { case ((rk, _, _, _), i) =>
      require(rk == i, s"BPE merge table corrupt: rank $rk at position $i " +
        s"(ranks must be dense from 0)")
    }
    rows
  }

  /** WordPiece vocabulary: `path/vocab` (piece) + `path/meta`
    * (unk_token). Saved from the RELATION form ([[WordPiece.vocabFrame]]
    * or any externally trained vocab) so construction never collects.
    */
  def saveWordPiece(vocab: org.apache.spark.sql.DataFrame,
      unkToken: String, path: String): Unit = {
    val spark = vocab.sparkSession
    import spark.implicits._
    require(vocab.columns.contains("piece"),
      s"saveWordPiece: expected a 'piece' column, got ${vocab.columns.mkString(",")}")
    Seq(unkToken).toDF("unk_token")
      .write.mode("overwrite").parquet(s"$path/meta")
    vocab.select(col("piece").cast("string"))
      .write.mode("overwrite").parquet(s"$path/vocab")
  }

  def loadWordPiece(spark: SparkSession, path: String): (Seq[String], String) = {
    val pieces = Parquet.read(spark, s"$path/vocab")
      .select(col("piece")).orderBy("piece")
      .collect().map(_.getString(0)).toSeq
    require(pieces.nonEmpty, "wordpiece vocab corrupt: no pieces")
    require(pieces.distinct.length == pieces.length,
      "wordpiece vocab corrupt: duplicate pieces")
    val meta = Parquet.read(spark, s"$path/meta")
      .select(col("unk_token").cast("string")).collect()
    require(meta.length == 1,
      s"wordpiece vocab corrupt: ${meta.length} meta rows (want 1)")
    (pieces, meta(0).getString(0))
  }

  def saveUnigram(m: Unigram.Model, spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    m.pieces.toDF("piece", "cost_micro")
      .write.mode("overwrite").parquet(s"$path/pieces")
    Seq((m.unkCostMicro, m.maxPieceLen)).toDF("unk_cost_micro", "max_piece_len")
      .write.mode("overwrite").parquet(s"$path/meta")
  }

  // ---- published-tokenizer interop (r13 verdict gap #1) ------------------
  //
  // Real pipelines tokenize with PUBLISHED artifacts, not self-trained
  // vocabularies: GPT-2's `vocab.json` + `merges.txt` (the tiktoken/HF
  // `gpt2` family) and HF's single-file `tokenizer.json`. The engine's
  // segmenter expressions already implement the right algorithms
  // (BpeSegment over the ByteUnicode alphabet, WordPieceSegment's
  // greedy longest-match) — these loaders are the parser + mapping
  // layer that feeds them, with the same loud-validation discipline as
  // the parquet loaders: a foreign or unsupported artifact must FAIL,
  // never segment wrongly.

  private def readRaw(spark: SparkSession, path: String): Array[Byte] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](65536)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  private def readUtf8(spark: SparkSession, path: String): String =
    new String(readRaw(spark, path), java.nio.charset.StandardCharsets.UTF_8)

  /** Load a published SentencePiece `.model` (the T5/Llama/Gemma
    * artifact family) into the unigram Viterbi segmenter's inputs —
    * parsing, strictness envelope and the score→integer-cost mapping
    * documented on [[SentencePiece.parse]].
    */
  def loadExternalSentencePiece(spark: SparkSession,
      path: String): SentencePiece.Model =
    SentencePiece.parse(readRaw(spark, path), s"loadExternalSentencePiece($path)")

  /** Export an engine-trained unigram model ([[Unigram.trainModel]])
    * as a published SentencePiece `.model` — the interop loop's WRITE
    * half: the artifact loads in any SentencePiece runtime (and back
    * through [[loadExternalSentencePiece]]). Wire layout and the
    * float32 precision note on [[SentencePiece.render]].
    */
  def saveAsSentencePiece(spark: SparkSession, m: Unigram.Model,
      path: String, unkPiece: String = "<unk>"): Unit =
    TokenizerFixtures.writeBytes(spark, path,
      SentencePiece.render(m.pieces, unkPiece))

  private def jsonTree(spark: SparkSession,
      path: String): com.fasterxml.jackson.databind.JsonNode = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    try om.readTree(readUtf8(spark, path))
    catch { case e: com.fasterxml.jackson.core.JacksonException =>
      throw new IllegalArgumentException(
        s"loadExternal: $path is not valid JSON: ${e.getMessage}")
    }
  }

  private def vocabMap(node: com.fasterxml.jackson.databind.JsonNode,
      where: String): Map[String, Int] = {
    require(node != null && node.isObject,
      s"$where: expected a JSON object mapping token -> id")
    val b = Map.newBuilder[String, Int]
    val it = node.properties().iterator()
    var n = 0
    while (it.hasNext) {
      val e = it.next()
      require(e.getValue.isIntegralNumber,
        s"$where: id for token '${e.getKey}' is not an integer")
      b += (e.getKey -> e.getValue.asInt); n += 1
    }
    val m = b.result()
    require(m.nonEmpty, s"$where: empty vocabulary")
    require(m.size == n, s"$where: duplicate tokens in vocabulary")
    require(m.values.toSeq.distinct.size == m.size,
      s"$where: duplicate ids in vocabulary")
    m
  }

  /** Load a published GPT-2-format tokenizer: `vocab.json` (token→id,
    * tokens in the [[graft.functions.ByteUnicode]] byte-unicode
    * alphabet — the SAME published `bytes_to_unicode` construction, so
    * the files feed [[graft.functions.BpeSegment]] verbatim) +
    * `merges.txt` (one "left right" pair per line, rank = line order,
    * optional `#version` header). Validates loudly:
    *
    *   - every single-byte symbol present in the vocab (the GPT-2
    *     property that makes every string encodable — a vocab missing
    *     byte symbols would silently emit un-encodable tokens);
    *   - every merge's sides AND its joined result in the vocab (the
    *     classic mismatched vocab.json/merges.txt corruption);
    *   - merge lines well-formed (exactly one space).
    *
    * Returns (merges in rank order, token→id map).
    */
  def loadExternalGpt2(spark: SparkSession, vocabJsonPath: String,
      mergesTxtPath: String): (Seq[(String, String)], Map[String, Int]) = {
    val vocab = vocabMap(jsonTree(spark, vocabJsonPath),
      s"loadExternalGpt2($vocabJsonPath)")
    val missingBytes = (0 until 256).map(b =>
      graft.functions.ByteUnicode.byteToChar(b).toString)
      .filterNot(vocab.contains)
    require(missingBytes.isEmpty,
      s"loadExternalGpt2: vocab at $vocabJsonPath is missing " +
        s"${missingBytes.size} single-byte symbols (first: " +
        s"'${missingBytes.head}') — not a byte-level BPE vocab; strings " +
        "would be silently un-encodable")
    val merges = readUtf8(spark, mergesTxtPath)
      .split("\n", -1).iterator.map(_.stripSuffix("\r"))
      .filterNot(l => l.isEmpty || l.startsWith("#version"))
      .zipWithIndex.map { case (line, i) =>
        val parts = line.split(" ", -1)
        require(parts.length == 2 && parts.forall(_.nonEmpty),
          s"loadExternalGpt2: merges line ${i + 1} is not 'left right': " +
            s"'$line'")
        require(vocab.contains(parts(0)) && vocab.contains(parts(1)) &&
          vocab.contains(parts(0) + parts(1)),
          s"loadExternalGpt2: merge '${parts(0)} ${parts(1)}' or its " +
            "result is absent from vocab.json — mismatched artifact pair")
        (parts(0), parts(1))
      }.toSeq
    require(merges.nonEmpty,
      s"loadExternalGpt2: no merges in $mergesTxtPath")
    (merges, vocab)
  }

  /** Load an HF single-file `tokenizer.json` whose model is BPE (the
    * modern export of the GPT-2 family — same merge semantics as
    * `vocab.json` + `merges.txt`, one file): `model.vocab` (token→id)
    * plus `model.merges` as either `"left right"` strings or
    * `[left, right]` two-element arrays (both appear in published
    * artifacts). STRICT about what the engine implements:
    * `normalizer` must be absent/null, `pre_tokenizer` absent/null or
    * ByteLevel (the engine's GPT-2 pre-tokenization + byte mapping —
    * `add_prefix_space` must be false/absent), and the same
    * byte-coverage / merge-consistency validations as
    * [[loadExternalGpt2]]. Returns (merges in rank order, token→id).
    */
  def loadExternalHfBpe(spark: SparkSession,
      path: String): (Seq[(String, String)], Map[String, Int]) = {
    val root = jsonTree(spark, path)
    val model = root.get("model")
    require(model != null && model.isObject,
      s"loadExternalHfBpe: no model object in $path")
    val mtype =
      if (model.hasNonNull("type")) model.get("type").asText() else ""
    require(mtype == "BPE",
      s"loadExternalHfBpe: model.type '$mtype' at $path is not BPE — " +
        "use the matching loader (WordPiece -> loadExternalHfWordPiece)")
    val norm = root.get("normalizer")
    require(norm == null || norm.isNull,
      s"loadExternalHfBpe: unsupported normalizer " +
        s"'${Option(norm.get("type")).map(_.asText).getOrElse("?")}' at " +
        s"$path — the engine applies no normalization")
    val pre = root.get("pre_tokenizer")
    val preType = Option(pre).filterNot(_.isNull)
      .flatMap(p => Option(p.get("type"))).map(_.asText)
    require(preType.forall(_ == "ByteLevel"),
      s"loadExternalHfBpe: unsupported pre_tokenizer " +
        s"'${preType.getOrElse("?")}' at $path — the engine implements " +
        "the GPT-2 ByteLevel pre-tokenization")
    val prefixSpace = Option(pre).filterNot(_.isNull)
      .flatMap(p => Option(p.get("add_prefix_space"))).exists(_.asBoolean)
    require(!prefixSpace,
      s"loadExternalHfBpe: add_prefix_space=true at $path is not " +
        "implemented — the engine pre-tokenizes the text verbatim")
    val vocab = vocabMap(model.get("vocab"),
      s"loadExternalHfBpe($path).model.vocab")
    val missingBytes = (0 until 256).map(b =>
      graft.functions.ByteUnicode.byteToChar(b).toString)
      .filterNot(vocab.contains)
    require(missingBytes.isEmpty,
      s"loadExternalHfBpe: vocab at $path is missing " +
        s"${missingBytes.size} single-byte symbols (first: " +
        s"'${missingBytes.head}') — not a byte-level BPE vocab")
    val mergesNode = model.get("merges")
    require(mergesNode != null && mergesNode.isArray && mergesNode.size > 0,
      s"loadExternalHfBpe: model.merges at $path is not a non-empty array")
    val merges = (0 until mergesNode.size).map { i =>
      val m = mergesNode.get(i)
      val (l, r) =
        if (m.isTextual) {
          val parts = m.asText().split(" ", -1)
          require(parts.length == 2 && parts.forall(_.nonEmpty),
            s"loadExternalHfBpe: merges[$i] '${m.asText()}' is not " +
              "'left right'")
          (parts(0), parts(1))
        } else if (m.isArray && m.size == 2) {
          (m.get(0).asText(), m.get(1).asText())
        } else sys.error(
          s"loadExternalHfBpe: merges[$i] at $path is neither a " +
            "'left right' string nor a [left, right] pair")
      require(vocab.contains(l) && vocab.contains(r) &&
        vocab.contains(l + r),
        s"loadExternalHfBpe: merge '$l $r' or its result is absent " +
          "from model.vocab — mismatched artifact")
      (l, r)
    }
    (merges, vocab)
  }

  /** Load an HF single-file `tokenizer.json` whose model is WordPiece,
    * into [[graft.functions.WordPieceSegment]]'s inputs. STRICT about
    * what the engine actually implements — anything else fails loudly
    * by NAME rather than segmenting differently from the published
    * tokenizer:
    *
    *   - `model.type` must be "WordPiece";
    *   - `normalizer` must be absent/null (the engine applies none —
    *     a BertNormalizer/Lowercase artifact would disagree on cased
    *     or accented input);
    *   - `pre_tokenizer` must be absent/null or WhitespaceSplit (the
    *     engine's word column is whitespace-split);
    *   - `continuing_subword_prefix` must be "##" (the segmenter's
    *     compiled convention);
    *   - `unk_token` must be in the vocab.
    *
    * Returns (pieces in id order, unk token, max_input_chars_per_word).
    */
  def loadExternalHfWordPiece(spark: SparkSession,
      path: String): (Seq[String], String, Int) = {
    val root = jsonTree(spark, path)
    val model = root.get("model")
    require(model != null && model.isObject,
      s"loadExternalHfWordPiece: no model object in $path")
    val mtype =
      if (model.hasNonNull("type")) model.get("type").asText() else ""
    require(mtype == "WordPiece",
      s"loadExternalHfWordPiece: model.type '$mtype' at $path is not " +
        "WordPiece — use the matching loader (BPE -> loadExternalGpt2)")
    val norm = root.get("normalizer")
    require(norm == null || norm.isNull,
      s"loadExternalHfWordPiece: unsupported normalizer " +
        s"'${Option(norm.get("type")).map(_.asText).getOrElse("?")}' at " +
        s"$path — the engine applies no normalization; normalize the " +
        "corpus upstream and re-export the tokenizer without one")
    val pre = root.get("pre_tokenizer")
    val preType = Option(pre).filterNot(_.isNull)
      .flatMap(p => Option(p.get("type"))).map(_.asText)
    require(preType.forall(_ == "WhitespaceSplit"),
      s"loadExternalHfWordPiece: unsupported pre_tokenizer " +
        s"'${preType.getOrElse("?")}' at $path — the engine serves " +
        "whitespace-split words")
    val prefix = if (model.hasNonNull("continuing_subword_prefix"))
      model.get("continuing_subword_prefix").asText() else "##"
    require(prefix == "##",
      s"loadExternalHfWordPiece: continuing_subword_prefix '$prefix' at " +
        s"$path is not '##' — the segmenter's compiled convention")
    val unk = if (model.hasNonNull("unk_token"))
      model.get("unk_token").asText() else "[UNK]"
    val maxChars = if (model.hasNonNull("max_input_chars_per_word"))
      model.get("max_input_chars_per_word").asInt() else 100
    require(maxChars >= 1,
      s"loadExternalHfWordPiece: max_input_chars_per_word $maxChars < 1")
    val vocab = vocabMap(model.get("vocab"),
      s"loadExternalHfWordPiece($path).model.vocab")
    require(vocab.contains(unk),
      s"loadExternalHfWordPiece: unk_token '$unk' absent from vocab at $path")
    val pieces = vocab.toSeq.sortBy(_._2).map(_._1)
    (pieces, unk, maxChars)
  }

  def loadUnigram(spark: SparkSession, path: String): Unigram.Model = {
    val pieces = Parquet.read(spark, s"$path/pieces")
      .select(col("piece"), col("cost_micro").cast("long"))
      .orderBy("piece")
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    require(pieces.nonEmpty, "unigram model corrupt: no pieces")
    require(pieces.map(_._1).distinct.length == pieces.length,
      "unigram model corrupt: duplicate pieces")
    val meta = Parquet.read(spark, s"$path/meta")
      .select(col("unk_cost_micro").cast("long"), col("max_piece_len").cast("int"))
      .collect()
    require(meta.length == 1,
      s"unigram model corrupt: ${meta.length} meta rows (want 1)")
    Unigram.Model(pieces, meta(0).getLong(0), meta(0).getInt(1))
  }
}
