package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.util.Parquet

/** Dedup-pipeline scale smoke: synthetic corpora far beyond the driver
  * tables (default 200k docs ≈ 40× sf0.1), generated distributively with
  * planted near-duplicates — every doc with id ≡ 1 (mod 100) is its
  * predecessor with 3 of 60 words perturbed (true Jaccard ≈ 0.9), so the
  * expected LSH pair count is known (~totalDocs/100) and recall is
  * checkable at any size.
  *
  * Usage: runMain graft.ScaleSmokeDocs [totalDocs[,totalDocs...]] [stage,...]
  *
  * Several sizes run sequentially in ONE JVM so decade pairs share JIT
  * state (cross-JVM totals on this host vary up to 4×, BASELINE round-6
  * note). The optional second arg restricts to named stages (substring
  * match) so a targeted decade run doesn't pay for the full suite.
  */
object ScaleSmokeDocs {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.trim.toLong).toSeq)
      .getOrElse(Seq(200000L))
    val filter = args.drop(1).headOption.map(_.split(",").map(_.trim).toSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (totalDocs <- sizes) runOne(spark, totalDocs, filter)
    spark.stop()
  }

  private def runOne(spark: SparkSession, totalDocs: Long,
      filter: Option[Seq[String]]): Unit = {
    def wanted(name: String): Boolean =
      filter.forall(_.exists(name.contains))
    // Scale shuffle partitions with corpus size, as a cluster deployment
    // would (AQE coalescing aside, a fixed partition count makes every
    // per-partition sort super-linear once shuffle blocks outgrow
    // memory — the measured e>1 residual on the shingle-join stages was
    // exactly this smoke artifact, not an algorithmic term). ~50k docs
    // (≈ 150 MB of exploded shingle rows) per partition.
    val cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(cpus, (totalDocs / 50000L).toInt))
    val words = 60
    val isDup = col("id") % 100 === 1
    val baseId = when(isDup, col("id") - 1).otherwise(col("id"))
    val docs = spark.range(totalDocs).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
        val perturbed = isDup && i < 3
        val h = when(perturbed, hash(col("id"), i, lit("x")))
          .otherwise(hash(baseId, i))
        concat(lit("w"), pmod(h, lit(5000)))
      })).as("text"))
      .persist()
    val n = docs.count()
    println(s"[docs-scale] docs=$n planted_pairs=${n / 100}")

    def stage(name: String)(rows: => Long): Long = {
      if (!wanted(name)) return -1L
      val t0 = System.nanoTime()
      val r = rows
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[docs-scale] n=$n $name%-22s $sec%8.2fs  ${n / sec / 1000}%8.1fk docs/s  rows=$r")
      r
    }

    stage("exact_dedup")(Dedup.exactGroups(docs, "doc_id", "text")
      .filter(col("dup_cnt") > 1).count())
    stage("fingerprint")(docs.select(
      graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp").count().filter(col("count") > 1).count())

    // round-12: contamination-free packing. Lengths vary 20..719 tokens
    // (so the >budget split path runs); the per-shard histogram fold is
    // corpus-size-independent (<= budget distinct lengths), leaving the
    // linear piece explode + the (shard, length)-keyed rank window —
    // the decade row should track ~linear
    if (wanted("bfd_pack")) {
      val packDocs = spark.range(totalDocs).select(
        col("id").as("doc_id"),
        (col("id") % 8).cast("string").as("source"),
        concat_ws(" ", transform(
          sequence(lit(0), (pmod(hash(col("id"), lit("len")), lit(700))
            + 19).cast("int")),
          i => concat(lit("t"), pmod(hash(col("id"), i), lit(5000)))))
          .as("text"))
      stage("bfd_pack")(Sampling.packSequencesBinned(
        packDocs, "doc_id", "text", "source", budget = 512).count())
    }
    if (wanted("cdc_dedup")) {
      // every 3rd doc carries one of 7 shared ~200-char tails at a
      // different absolute offset — the chunker must re-sync and the
      // per-hash first-occurrence aggregate must stay flat per doc
      val tails = (0 until 7).map(v =>
        s"shared tail $v " + ("the county atlases and the quarry " +
          "surveys and the mill ledgers draw the most requests ") * 3)
      val cdcDocs = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" "),
            element_at(typedlit(tails), (col("doc_id") % 7 + 1).cast("int"))))
          .otherwise(col("text")))
      stage("cdc_dedup")(Dedup.cdcDupChunks(cdcDocs, "doc_id", "text")
        .filter(col("n_dup") > 0).count())
    }
    if (wanted("cdc_screen")) {
      // round-13 chunk stored-index loop: even ids persist as the
      // index, odd ids screen against it — the serving cost must stay
      // batch-proportional (the corpus contributes one narrow scan)
      val tails = (0 until 7).map(v =>
        s"shared tail $v " + ("the county atlases and the quarry " +
          "surveys and the mill ledgers draw the most requests ") * 3)
      val cdcDocs = docs.withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" "),
            element_at(typedlit(tails), (col("doc_id") % 7 + 1).cast("int"))))
          .otherwise(col("text")))
      val dir = java.nio.file.Files.createTempDirectory("cdc_scale").toString
      val tIdx = System.nanoTime()
      Dedup.saveChunkIndex(cdcDocs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$dir/idx")
      println(f"[docs-scale] n=$n cdc_index_build        ${(System.nanoTime() - tIdx) / 1e9}%8.2fs")
      stage("cdc_screen")(Dedup.chunksAgainstIndex(
          cdcDocs.filter(col("doc_id") % 2 === 1), s"$dir/idx",
          "doc_id", "text")
        .filter(col("n_dup") > 0).count())
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    if (wanted("index_delete")) {
      // r13 takedown decade row: the exact-family deletion is an
      // O(index + deletes) rewrite (one hash aggregate per side, one
      // key join) — docs/s must hold ~flat across the decade, proving
      // no corpus re-scan and no per-delete loop hides inside
      val dir = java.nio.file.Files.createTempDirectory("del_scale").toString
      val tIdx = System.nanoTime()
      Dedup.saveExactIndex(docs, "doc_id", "text", s"$dir/idx")
      println(f"[docs-scale] n=$n exact_index_build      ${(System.nanoTime() - tIdx) / 1e9}%8.2fs")
      stage("index_delete") {
        Dedup.deleteFromExactIndex(docs.filter(col("doc_id") % 7 === 0),
          s"$dir/idx", s"$dir/idx_del", "doc_id", "text")
        Parquet.read(spark, s"$dir/idx_del/index").count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    if (wanted("blocklist")) {
      // r13 blocklist decade row: 10k two-token phrases over the
      // corpus's own token space, ONE automaton walk per doc — docs/s
      // must hold ~flat across the decade AND be independent of list
      // size. The rlike alternation baseline (same 1k phrases, the
      // regex class the automaton replaces) is measured at the same n
      // for the constant-factor row.
      def phrases(k: Int): Seq[String] = (0 until k).map(i =>
        s"w${(i * 7 + i / 5000) % 5000} w${(i * 13 + 11 + 3 * (i / 5000)) % 5000}")
      val ac10k = graft.functions.AhoCorasick.build(phrases(10000))
      stage("blocklist_ac_10k")(docs.select(
          graft.functions.AcDistinctMatches(col("text"), ac10k).as("n"))
        .filter(col("n") > 0).count())
      val ac1k = graft.functions.AhoCorasick.build(phrases(1000))
      stage("blocklist_ac_1k")(docs.select(
          graft.functions.AcDistinctMatches(col("text"), ac1k).as("n"))
        .filter(col("n") > 0).count())
      stage("blocklist_rlike_1k")(docs.filter(
        col("text").rlike(phrases(1000).distinct
          .map(java.util.regex.Pattern.quote).mkString("|"))).count())
    }
    if (wanted("winnow")) {
      // r13 winnowing decade row: groups of 3 share a 14-token snippet
      // in three formattings; fingerprint explode + one equality
      // self-join — docs/s must hold ~flat (fp density is ~2/(w+1) of
      // the gram count; the group id woven into every other position
      // keeps snippet grams GROUP-LOCAL — a corpus-universal gram is
      // the hot-key mode the maxDf bound cuts, not the decade claim)
      val lead = (col("doc_id") - col("doc_id") % 3).cast("string")
      val toks = array(lit("winnow"), lead, lit("block"), lead,
        lit("alpha"), lead, lit("beta"), lead, lit("gamma"), lead,
        lit("delta"), lead, lit("epsilon"), lead)
      val snippet = when(col("doc_id") % 3 === 1, concat_ws("\n  ", toks))
        .when(col("doc_id") % 3 === 2, concat_ws("\t\t", toks))
        .otherwise(concat_ws(" ", toks))
      val planted = docs.select(col("doc_id"),
        concat(col("text"), lit(" "), snippet).as("text"))
      stage("winnow_overlap")(Dedup.winnowOverlap(
        planted, "doc_id", "text", minShared = 4).count())
    }
    if (wanted("editdist")) {
      // r13 edit-distance decade row: 24-char titles, groups of 3 with
      // one planted substitution/deletion each — symdel blocking emits
      // ~25 variants per key, the equality join touches only true
      // near-neighborhoods, docs/s must hold ~flat
      val base = docs.select(col("doc_id").as("bid"),
        substring(col("text"), 1, 24).as("t0"))
      val titled = docs.select(col("doc_id"))
        .join(base, col("doc_id") - col("doc_id") % 3 === col("bid"))
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 1,
            concat(substring(col("t0"), 1, 4), lit("q"),
              substring(col("t0"), 6, 24)))
            .when(col("doc_id") % 3 === 2,
              concat(substring(col("t0"), 1, 4), substring(col("t0"), 6, 24)))
            .otherwise(col("t0")).as("title"))
      stage("editdist_pairs")(Dedup.editDistancePairs(
        titled, "doc_id", "title", maxEdits = 1).count())
    }
    if (wanted("index_compact")) {
      // r13 compaction decade row: two appended snapshots (every key
      // doubled) rewritten to one combined row per key — the same
      // single hash-aggregate shape as the serve combine, ~flat docs/s
      val dir = java.nio.file.Files.createTempDirectory("cmp_scale").toString
      val tIdx = System.nanoTime()
      Dedup.saveExactIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$dir/idx")
      Dedup.mergeIntoExactIndex(docs.filter(col("doc_id") % 2 === 1),
        s"$dir/idx", "doc_id", "text")
      println(f"[docs-scale] n=$n exact_index_build2     ${(System.nanoTime() - tIdx) / 1e9}%8.2fs")
      stage("index_compact") {
        Dedup.compactExactIndex(spark, s"$dir/idx", s"$dir/idx_c")
        Parquet.read(spark, s"$dir/idx_c/index").count()
      }
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    if (wanted("host_cap")) {
      // power-law hosts: host 0 owns ~half the corpus (the skew case a
      // window row_number would pin on one task), the tail is tiny;
      // the packed-TopK cap must return exactly n per non-tiny host
      val hosted = spark.range(totalDocs).select(
        col("id").as("doc_id"),
        floor(log2(pmod(hash(col("id"), lit("host")), lit(1L << 20)) + 1L))
          .cast("string").as("host"),
        pmod(hash(col("id"), lit("score")), lit(1000L)).as("score"))
      val kept = stage("host_cap")(Sampling.hostCap(
        hosted, "doc_id", "host", "score", n = 10, maxScore = 999L).count())
      require(kept <= 21 * 10, s"more than n per host survived: $kept")
    }
    if (wanted("containment_screen")) {
      // round-13 shingle-index loop: even ids' postings persist, odd
      // ids screen — every 10th odd doc is a 20-word interior excerpt
      // of its even neighbor (containment 1.0); serving cost must
      // track the batch (corpus = one narrow semi-filtered postings
      // scan)
      // odd %10==1 docs regenerate with the EVEN neighbor's words and
      // then cut to an interior 20-word window — a true excerpt
      val cdocs = spark.range(totalDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
          val srcId = when(col("id") % 10 === 1, col("id") - 1)
            .otherwise(when(col("id") % 100 === 1, col("id") - 1)
              .otherwise(col("id")))
          concat(lit("w"), pmod(hash(srcId, i), lit(5000)))
        })).as("text"))
        .withColumn("text", when(col("doc_id") % 10 === 1,
          concat_ws(" ", slice(split(col("text"), " "), 5, 20)))
          .otherwise(col("text")))
      val dir = java.nio.file.Files.createTempDirectory("sh_scale").toString
      val tIdx = System.nanoTime()
      Dedup.saveShingleIndex(cdocs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", n = 3, s"$dir/idx", maxDf = 1000)
      println(f"[docs-scale] n=$n shingle_index_build    ${(System.nanoTime() - tIdx) / 1e9}%8.2fs")
      val hits = stage("containment_screen")(Dedup.containmentAgainstIndex(
          cdocs.filter(col("doc_id") % 2 === 1), s"$dir/idx",
          "doc_id", "text", threshold = 0.9)
        .filter(col("doc_inner") % 2 === 1).count())
      require(hits >= n / 10 * 8 / 10,
        s"planted excerpts mostly missed: $hits of ~${n / 10}")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    if (wanted("preference_pairs")) {
      // round-13: the composed RLHF/DPO prep at corpus scale — exact
      // prompt groups + minhash banding + shingle contamination +
      // double ChatML render in ONE relation; every component has its
      // own decade row, this pins the composition. Plants: %100==1
      // prompts duplicate their neighbor (exact dups), %50==2 pairs
      // degenerate, docs<100 are the benchmark
      val pairs = docs.select(col("doc_id"),
        when(col("doc_id") % 100 === 1,
          concat(lit("dup-prompt-"), expr("doc_id div 2").cast("string")))
          .otherwise(col("text")).as("prompt"),
        substring(col("text"), 10, 120).as("chosen"),
        when(col("doc_id") % 50 === 2, substring(col("text"), 10, 120))
          .otherwise(substring(col("text"), 40, 120)).as("rejected"))
      val benchmark = Dedup.shingleSets(
        pairs.filter(col("doc_id") < 100), "doc_id", "prompt", 3)
        .select(explode(col("sh")).as("sh"))
      val kept = stage("preference_pairs")(Preference.prepPairs(
          pairs, "doc_id", "prompt", "chosen", "rejected", benchmark,
          nGram = 3, threshold = 0.5)
        .filter(col("keep")).count())
      require(kept < n, s"plants must flag something: kept=$kept of $n")
    }
    if (wanted("weighted_sample")) {
      // round-13: one MEGA group holds 90% of the corpus — the shape
      // that pinned ~0.9·corpus on one task under the old row_number
      // window; the packed TopKLongs rank must stay ~flat, with the
      // shuffle carrying <= k longs per (mapper, group)
      val weighted = spark.range(totalDocs).select(
        col("id").as("doc_id"),
        when(pmod(hash(col("id"), lit("wsg")), lit(10)) < 9, lit("mega"))
          .otherwise(lit("tail")).as("source"),
        (pmod(hash(col("id"), lit("wsw")), lit(500L)) + 1L).as("n_chars"))
      val picked = stage("weighted_sample")(Sampling.weightedSample(
        weighted, "doc_id", "source", "n_chars", k = 1000).count())
      require(picked == 2000, s"expected k per group (2 groups): $picked")
    }
    if (wanted("thread_flatten")) {
      // round-13 follow-on: pointer doubling must stay LOG-depth — the
      // corpus as 50-deep chains flattens in 6 self-join rounds
      // regardless of message count (a chained-join traversal would
      // pay 50 shuffles and a depth-linear critical path)
      val msgs = spark.range(totalDocs).select(
        col("id"),
        when(col("id") % 50 === 0, lit(null).cast("long"))
          .otherwise(col("id") - 1).as("parent"),
        when(col("id") % 2 === 0, lit("user")).otherwise(lit("assistant"))
          .as("role"),
        concat(lit("msg "), col("id").cast("string")).as("content"))
      val flat = stage("thread_flatten")(Preference.flattenThreads(
        msgs, "id", "parent", "role", "content", maxDepth = 64).count())
      require(flat == (totalDocs + 49) / 50, s"one leaf per chain: $flat")
    }
    if (wanted("robots_filter")) {
      // a 90%-viral host must pin nothing: the verdict is one broadcast
      // join (fan-out bounded by that host's own 41 rules) + a
      // partial-aggregated max — no window, no corpus-keyed state
      import spark.implicits._
      val rules = ((0 until 40).map(i =>
        ("viral.example.org", s"/p$i", i % 2 == 0)) :+
        ("viral.example.org", "/", false))
        .toDF("host", "path_prefix", "allow")
      val urls = spark.range(totalDocs).select(col("id").as("doc_id"),
        concat(lit("https://"),
          when(pmod(hash(col("id"), lit("rh")), lit(10)) < 9,
            lit("viral.example.org"))
            .otherwise(concat(lit("host"),
              pmod(col("id"), lit(1000)).cast("string"),
              lit(".example.org"))),
          lit("/p"), pmod(col("id"), lit(40)).cast("string"), lit("/x"))
          .as("url"))
      val kept = stage("robots_filter")(UrlOps.robotsFilter(
        urls, "doc_id", "url", rules).filter(col("keep")).count())
      require(kept > 0 && kept < totalDocs,
        s"viral-host rules must both keep and drop: kept=$kept of $totalDocs")
    }
    val lshPairs = Dedup.minhashLshPairs(
      docs, "doc_id", "text", n = 3, k = 32, bands = 8, threshold = 0.5).persist()
    val found = stage("minhash_lsh")(lshPairs.count())
    stage("dup_clusters")(Dedup.duplicateClusters(lshPairs)
      .select(countDistinct("cluster_id")).head().getLong(0))
    // quality-ranked keep-one-per-cluster (p40) over the same cluster
    // relation: survivors = corpus - (cluster members - representatives)
    stage("cluster_keep")(Dedup.keepClusterRepresentatives(docs, "doc_id",
        Dedup.duplicateClusters(lshPairs), quality = length(col("text")))
      .filter(col("kept")).count())
    lshPairs.unpersist() // decade loop shares one JVM — do not hoard cache
    // corpus-duplicated 5-gram coverage (p41): every planted near-dup
    // pair shares long runs, so ~2 of every 100 docs must show coverage
    stage("dup_ngram_coverage")(Quality.dupNgramCoverage(
        docs, "doc_id", "text", k = 5)
      .filter(col("covered_frac") > 0.5).count())
    stage("simhash_sigs")(Dedup.simhashSignatures(docs, "doc_id", "text").count())
    // banded simhash pairing: pigeonhole bands make the candidate join an
    // equality shuffle — with maxHamming=2 each band carries 16 bits, so
    // random docs partition 65536 ways per band and the verify join stays
    // linear-ish; planted dups (3 of 60 words changed) mostly land within
    // hamming 2 of their base
    val simhashPairs = stage("simhash_pairs_banded")(
      Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 2).count())
    stage("tfidf_top3")(TfIdf.topTerms(docs, "doc_id", "text", 3).count())
    // vocab top-k (p31): tokenize-explode-count — one shuffle on term,
    // partial-aggregated map-side, then a 200-row limit
    stage("vocab_topk")(docs.select(
        explode(TextOps.bpeishTokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(200).count())
    // sketch-pruned frequent n-grams (p123): the Misra-Gries candidate
    // pass is the stress — at this corpus nearly every 3-gram is
    // distinct (random 5000-word draws), so the partial buffers evict
    // constantly and the exchange still carries only ≤ 32k-entry
    // summaries; the support threshold lands above every natural count,
    // so the verify pass is the cheap no-candidate path (rows = 0 is
    // the expected census on a template-free corpus)
    stage("heavy_ngrams3")(HeavyHitters.frequentNgrams(
      spark, docs, "text", n = 3).count())
    // the unigram form exercises the verify join at full output: all
    // ~5000 vocabulary words clear the support threshold, so the
    // broadcast-candidate groupBy counts every one exactly
    if (wanted("heavy_unigrams")) {
      val hh = stage("heavy_unigrams")(HeavyHitters.frequentNgrams(
        spark, docs, "text", n = 1).count())
      require(hh >= 4900 && hh <= 5000,
        s"heavy_unigrams: expected ~5000 vocabulary words, got $hh")
    }
    // unigram LM scoring (p36): corpus term-count aggregate, token→count
    // equality join, one-row broadcast total — two shuffles on term plus
    // the per-doc sum; micro-nat longs keep the agg exact and order-free
    stage("lm_score")(Quality.lmScore(docs, "doc_id", "text")
      .filter(col("lm_nll").isNotNull).count())
    // CCNet head/middle/tail tertiles (p38): the lm_score chain plus one
    // exact-percentile two-value aggregate attached back as a one-row
    // broadcast — no global sort; marginal cost over lm_score is the
    // cutoff agg alone
    stage("lm_buckets")(Quality.lmBuckets(docs, "doc_id", "text")
      .groupBy("lm_bucket").count().count())
    // corpus-wide exact line dedup (p37): posexplode to lines, shuffle on
    // line hash for the global first-occurrence argmin, shuffle back on
    // doc id to reassemble — a footer line planted on EVERY doc must
    // survive on exactly one (rows = docs still carrying it)
    stage("line_dedup_planted")({
      val lined = docs.select(col("doc_id"),
        concat(col("text"), lit("\nshared footer line"),
          lit("\nuniq-"), col("doc_id").cast("string")).as("text"))
      Dedup.dedupLines(lined, "doc_id", "text")
        .filter(col("text").contains("shared footer line")).count()
    })
    // Gopher doc-quality rules (p43): one codegen'd projection — the
    // per-doc HOFs (token-length fold, line scans) dominate; no shuffle
    // at all (the synthetic words all carry an alpha char, so the filter
    // returns the full corpus as its sanity row count)
    stage("gopher_rules")(Quality.gopherRules(docs, "doc_id", "text")
      .filter(col("alpha_word_frac") >= 0.8).count())
    // C4 line/page filters (p44): the same no-shuffle projection shape
    // (synthetic docs have no terminal punctuation, so every doc keeps
    // zero lines — the count pins that the rule actually evaluated)
    stage("c4_filters")(Quality.c4Clean(docs, "doc_id", "text")
      .filter(col("n_kept") === 0).count())
    // BPE pair counts (p45): explode words → explode within-word char
    // pairs → one term-shaped shuffle with map-side partials + top-k
    stage("bpe_pairs_top200")(Bpe.pairCounts(docs, "text", 200).count())
    // bigram LM (p46): pair-count shuffle + two equality joins + the
    // one-row vocab attach — the lm_score shape over bigrams
    stage("bigram_lm")(Quality.lm2Score(docs, "doc_id", "text")
      .filter(col("lm2_nll").isNotNull).count())
    // sqrt-temperature language rebalancing (p48) over 20 synthetic
    // langs: one count aggregate + a per-lang rank window
    stage("lang_sample_sqrt")({
      val d = docs.withColumn("lang",
        concat(lit("l"), pmod(hash(col("doc_id")), lit(20))))
      Sampling.temperatureSample(d, "doc_id", "lang", budgetFrac = 0.5).count()
    })
    // the hot-language worst case for the rank window (90% of the
    // corpus in one language): the per-lang sort serializes on the hot
    // key — measured so the hazard is a number, not a guess
    stage("lang_sample_hot90")({
      val d = docs.withColumn("lang",
        when(pmod(hash(col("doc_id")), lit(10)) < 9, lit("en"))
          .otherwise(concat(lit("l"), pmod(hash(col("doc_id"), lit(7)), lit(9)))))
      Sampling.temperatureSample(d, "doc_id", "lang", budgetFrac = 0.5).count()
    })
    // the threshold (window-free) form on the same hot corpus — the
    // cluster-scale restatement the p48 scaladoc names
    stage("lang_sample_hot90_thr")({
      val d = docs.withColumn("lang",
        when(pmod(hash(col("doc_id")), lit(10)) < 9, lit("en"))
          .otherwise(concat(lit("l"), pmod(hash(col("doc_id"), lit(7)), lit(9)))))
      Sampling.temperatureSampleApprox(d, "doc_id", "lang", budgetFrac = 0.5).count()
    })
    // UniMax water-filling on the same 20-lang split; budget 1.5× the
    // corpus with a 2-epoch cap → scarce langs replay, hot langs split
    // the leftover (the quota math runs on the 20-row lang frame; cost
    // is the rank window + epoch explode)
    stage("unimax_sample")({
      val d = docs.withColumn("lang",
        concat(lit("l"), pmod(hash(col("doc_id")), lit(20))))
      Sampling.unimaxSample(d, "doc_id", "lang",
        budgetFrac = 1.5, maxEpochs = 2).count()
    })
    // BM25 against a 3-term query: one tokenize pass, tf shuffle only
    // over matching tokens, top-20 TakeOrdered
    stage("bm25_topk")(TfIdf.bm25TopK(docs, "doc_id", "text",
      Seq("w1", "w17", "w4242"), k = 20).count())
    // token-budget selection: p36 scoring + bucket-histogram waterline.
    // This synthetic corpus is the knob's worst case: hash-uniform
    // vocab → per-doc mean NLL spread of only ~±0.02 nats, so the
    // default 0.1-nat buckets put the WHOLE corpus into one boundary
    // bucket and its doc-by-doc window sorts everything in one
    // partition. The fine-bucket variant (0.001 nat) is the knob
    // answer — measured side by side so the hazard and its fix are
    // both numbers
    stage("budget_select")(Quality.budgetSelect(docs, "doc_id", "text",
      budgetFrac = 0.4).filter(col("kept")).count())
    stage("budget_select_fine")(Quality.budgetSelect(docs, "doc_id", "text",
      budgetFrac = 0.4, bucketMicro = 1000L).filter(col("kept")).count())
    // directed containment with the same hot-shingle cutoff as the
    // jaccard stage; planted near-dup pairs give both directions
    stage("containment_maxdf")(Dedup.containmentPairs(docs, "doc_id",
      "text", n = 3, threshold = 0.7, maxDf = 50).count())
    // integer PageRank, 10 iterations over an n/20-node hash graph
    // (one edge per doc) — per-iteration cost is two keyed joins + one
    // sum shuffle, ranks persisted per iteration
    stage("pagerank_10it")({
      val nodes = math.max(totalDocs / 20, 100L)
      val e = docs.select(
        pmod(hash(col("doc_id")), lit(nodes)).cast("long").as("src"),
        pmod(hash(col("doc_id"), lit(7)), lit(nodes)).cast("long").as("dst"))
      GraphOps.pageRank(e, "src", "dst", iterations = 10).count()
    })
    // ±3 skip-gram PMI top-200: slice projection + two count shuffles
    stage("pmi_pairs")(Cooccur.pmiPairs(docs, "doc_id", "text",
      window = 3, k = 200).count())
    // BPE train (driver-local over the ≤5000-word synthetic vocab) +
    // full-corpus in-plan segmentation (p47); rows = total subwords
    stage("bpe_train_segment")({
      val merges = Bpe.trainMerges(docs, "text", nMerges = 100,
        maxWords = 100000).map(m => (m._2, m._3))
      docs.select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("w"))
        .agg(sum(size(graft.functions.BpeSegment(col("w"), merges)))
          .cast("long")).head().getLong(0)
    })
    // langid classifier (p61) straight over the corpus text: one
    // codegen projection, ~1 md5 per char-3-gram — the embarrassingly
    // parallel map shape. The action GROUPS on the prediction (an
    // isNotNull filter on the non-nullable pred folds away and prices
    // nothing); rows = distinct labels
    stage("langid_classify")(graft.pipeline.LangId.classify(
      docs, "doc_id", "text").groupBy("lang_pred").count().count())
    // the rolling-ring fast path: identical architecture, no md5
    stage("langid_classify_fast")(graft.pipeline.LangId.classifyFast(
      docs, "doc_id", "text").groupBy("lang_pred").count().count())
    // Kneser-Ney bigram scoring (p65): one pair-type aggregate + three
    // equality joins + the one-row type-total attach (the lm2 family)
    stage("kn_bigram")(Quality.knBigramScore(docs, "doc_id", "text")
      .filter(col("kn_nll").isNotNull).count())
    // order-3 KN (p79): the trigram-TYPE relation is the scale term —
    // on this 5k-word synthetic vocab the type count saturates near
    // the corpus trigram-instance count, the realistic worst case
    stage("kn_trigram")(Quality.knTrigramScore(docs, "doc_id", "text")
      .filter(col("kn3_nll").isNotNull).count())
    // URL canonicalization dedup (p77): one projection + one hash
    // aggregate on the canonical key; raw spellings synthesized with
    // the registered plant's residue scheme
    stage("url_canonical")(graft.pipeline.UrlOps.urlCanonicalDedup(
      docs.select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("http")),
        lit("://Site"), (col("doc_id") % 997).cast("string"),
        lit(".Example.COM"),
        when(col("doc_id") % 3 === 0, lit(":80")).otherwise(lit("")),
        lit("/Page/"), (col("doc_id") % 101).cast("string"),
        when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&id="), (col("doc_id") % 11).cast("string"))
        .as("raw_url")),
      "doc_id", "raw_url").count())
    // Luhn card PII (p78): candidate regex + checksum HOF, pure
    // projection; every third doc carries a valid PAN
    stage("card_pii")(Quality.luhnCardScrub(
      docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" pay 4111 1111 1111 1111 now"))
          .when(col("doc_id") % 3 === 1, lit(" ref 4111111111111112 x"))
          .otherwise(lit(""))).as("text")),
      "doc_id", "text").filter(!col("keep")).count())
    // char entropy (p84): one char explode (~420 chars/doc) through a
    // (doc, char) hash aggregate — the heaviest row-count of the
    // round-8 report family
    stage("char_entropy")(Quality.charEntropy(docs, "doc_id", "text")
      .filter(!col("keep")).count())
    // filter funnel (p83): the three gate projections + three narrow
    // (id, bool) joins + a 4-row aggregate
    stage("filter_funnel")(Quality.filterFunnel(docs, "doc_id", "text",
      blocklist = Seq("badword")).count())
    // per-source KL (p86): one token explode into a (source, term)
    // aggregate + vocab-sized rollups; 20 synthetic sources
    stage("domain_kl")(Quality.domainKl(
      docs.select(concat(lit("src"), (col("doc_id") % 20).cast("string"))
        .as("source"), col("text")),
      "source", "text").count())
    // vocab drift (p87): two snapshot count aggregates + a full-outer
    // term join — vocab-sized output
    stage("vocab_drift")(Quality.vocabDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1), "text").count())
    // vocab growth (p88): one token explode, min-bucket per term,
    // 10-row cumulative window
    stage("vocab_growth")(Quality.vocabGrowth(docs, "doc_id", "text")
      .count())
    // END-TO-END ingest (round-7): the README composition html →
    // C4 → Gopher → exact dedup → pack, over an HTML wrap of the
    // synthetic corpus built to PASS the gates (6 sentence-lines of 10
    // vocab words each: terminal punctuation per line, ≥5 sentences,
    // ≥50 words, stopwords present, every word alpha-bearing) — so the
    // row measures the full pipeline's cost, not an early empty
    // filter. Exact dedup finds no verbatim pages here (planted dups
    // are NEAR-dups), so survivors = corpus and the dedup stage still
    // pays its whole hash-groupBy shuffle. rows = packed sequences.
    // The WARC byte layer is measured separately (ScaleSmokeWarc's
    // composed-ingest stage) — disk synthesis at 2M records would
    // dominate this row with generator time, not engine time.
    stage("e2e_ingest")({
      val ws = split(col("text"), " ")
      val body = concat_ws("\n", transform(sequence(lit(0), lit(5)), i =>
        concat(lit("The "), concat_ws(" ", slice(ws, i * 10 + 1, lit(10))),
          lit(" have all of that done."))))
      val html = docs.select(col("doc_id"),
        concat(lit("<html><head><title>t</title></head><body><p>"),
          body, lit("</p></body></html>")).as("html"))
      val pages = html.select(col("doc_id"),
        graft.pipeline.TextOps.htmlToText(col("html")).as("text"))
      val c4 = Quality.c4Clean(pages, "doc_id", "text")
        .filter(col("keep"))
        .select(col("doc_id"), col("text_clean").as("text"))
      val gophered = c4.join(
        Quality.gopherRules(c4, "doc_id", "text")
          .filter(col("keep")).select("doc_id"), Seq("doc_id"))
      val deduped = Dedup.dropExactDuplicates(gophered, "doc_id", "text")
      Sampling.packSequences(
        deduped.withColumn("shard",
          concat(lit("s"), pmod(hash(col("doc_id"), lit(3)), lit(8)))),
        "doc_id", "text", "shard", 2048).count()
    })
    // main-content extraction (round-9, p89): chrome subtrees + a
    // link-farm block + a short stub around the prose — the full
    // prune/split/score/keep chain. Projection-only; rows = pages whose
    // main text is non-empty (all of them).
    stage("main_content")({
      val html = docs.select(col("doc_id"),
        concat(lit("<html><head><title>t</title></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
          "<div><a href=\"/l1\">Latest stories</a>" +
          " <a href=\"/l2\">Top picks</a> go</div><p>"),
          col("text"), lit("</p><p>ok.</p>" +
            "<footer>(c) footer chrome</footer></body></html>")).as("html"))
      html.select(col("doc_id"),
        graft.pipeline.TextOps.mainContentBlocks(col("html"))
          .getField("text_main").as("t"))
        .filter(length(col("t")) > 0).count()
    })
    // clean-corpus v2 (round-9, p91): the FULL FineWeb-order recipe —
    // extraction → line corrections → three gates → three PII scrubs →
    // exact + minhash dedup → SemDeDup-LSH verdicts over totalDocs/2
    // synthetic embeddings. The body is built to PASS the gates with a
    // numeric furniture block the corrections must strip, and — the
    // part that makes this row measure the ENGINE, not a plant
    // pathology — with near-ZERO background shingle overlap between
    // unrelated docs: no shared ≥3-consecutive-word run survives into
    // the shingle sets (every shared template word is id-flanked), so
    // banded candidates come from the planted near-dups rather than a
    // corpus-wide boilerplate flood. (Real pipelines get this property
    // from boilerplate/line removal BEFORE minhash — exactly where
    // this recipe runs lineCorrections; a corpus whose post-correction
    // docs still share 25% of shingles makes ANY banded LSH quadratic,
    // which is a property of the corpus, not of the plan.) Planted
    // text near-dups arrive from the corpus's own %100 perturbed
    // copies. rows = surviving documents.
    if (wanted("clean_corpus_v2") || wanted("release_export")) {
      val ws = split(col("text"), " ")
      val idw = concat(lit("u"), pmod(hash(col("doc_id"), lit(11)), lit(100000)))
      val body = concat_ws("\n", transform(sequence(lit(0), lit(5)), i =>
        concat(lit("The "), concat_ws(" ", slice(ws, i * 10 + 1, lit(10))),
          lit(" went "), idw, lit(" done."))))
      val pages = docs.select(col("doc_id"),
        concat(lit("<html><head><title>t</title></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav><p>"),
          body, lit(" to "), idw, lit(" be "), idw, lit(" of "), idw,
          lit(" that "), idw, // gopher stop words, id-flanked (no run)
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com "), idw,
          lit(" pays 4111 1111 1111 1111 "), idw,
          lit(" now.</p><p>42 / 107 13.5% 99/100</p>" +
            "<footer>(c) footer</footer></body></html>")).as("html"))
      val nv = totalDocs / 2
      val vIsDup = col("id") % 100 === 1
      val vBase = when(vIsDup, col("id") - 1).otherwise(col("id"))
      val vecs = spark.range(nv).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(hash(vBase, d), lit(2001)) - 1000) / lit(1000.0) +
            when(vIsDup && d === 0, lit(0.001)).otherwise(lit(0.0)))
          .as("embedding"))
      // 0.35: the %100 planted copies land near j≈0.38 here (the 13
      // id-flanking words dilute them); background pairs sit ≈0.03.
      // Star cap 24 = p69's: 8-plane tables have only 256 buckets, so
      // at 100k+ vectors EVERY cell is a pile-up — uncapped cells go
      // quadratic (measured 162 s of pure cell self-join at this size)
      // construction INSIDE the timed stage: cleanCorpusV2's component
      // walk and semantic seeding run driver-side actions eagerly, so
      // hoisting it out of stage() silently moves most of the recipe's
      // cost off the clock (measured: 336 s of work reporting as 11 s)
      var survivors: org.apache.spark.sql.DataFrame = null
      def buildSurvivors() = Dedup.cleanCorpusV2(pages, vecs, "doc_id",
        "html", blocklist = Seq("zqxj"), threshold = 0.35,
        semTau = 0.98, semDim = 64, semStarCap = 24)
      stage("clean_corpus_v2")({
        survivors = buildSurvivors()
        survivors.count()
      })
      // the loop's last step (round-10, p101): survivors → 64
      // deterministic gzip JSONL shards + the read-back identity
      // certificate. Timed boundary: the corpus is already cleaned and
      // its barriers cached (a release happens AFTER cleaning) — this
      // row prices the write + read-back audit alone
      stage("release_export")({
        if (survivors == null) { survivors = buildSurvivors(); survivors.count() }
        graft.pipeline.Release.releaseCorpus(survivors, "doc_id",
          s"/tmp/graft_release_$totalDocs", nShards = 64)
      })
    }
    // round-10 training-order ops, isolated rows: FIM re-serialization
    // (one projection), the per-epoch shuffle (one sort per epoch —
    // the cost an explicit order costs anywhere), and the budgeted
    // repeat schedule (one token-count aggregate + a one-row attach)
    stage("fim_transform")(
      graft.pipeline.Sampling.fimTransform(docs, "doc_id", "text")
        .filter(col("fim_applied")).count())
    stage("epoch_shuffle")(
      graft.pipeline.Sampling.epochShuffle(docs, "doc_id", nEpochs = 2)
        .filter(col("position") <= 10).count())
    stage("repeat_upsample")(
      graft.pipeline.Sampling.repeatUpsample(docs, "doc_id", "text",
        budgetTokens = totalDocs * 250L)
        .select(sum(col("n_tokens") * col("n_repeats")).cast("long"))
        .head().getLong(0))

    // GPT-2 regex pre-tokenization (round-9, p92): marker transform +
    // split + alternation over the raw corpus — the byte-level-BPE
    // front end as one projection; rows = total pre-tokens
    stage("gpt2_pretokenize")(
      docs.select(explode(graft.pipeline.BpeByte.pretokens(col("text")))
        .as("t")).count())
    // byte-level BPE end to end (round-9, p93): train 500 merges on the
    // pre-token dictionary (driver-local indexed loop over the capped
    // dict — the corpus pays ONE frequency aggregate), then segment
    // every pre-token and verify the lossless property corpus-wide;
    // rows = docs whose unmapped segment concat == text (must be all)
    stage("byte_bpe_500")({
      val merges = graft.pipeline.BpeByte.trainMerges(docs, "text",
        nMerges = 500, maxWords = 100000).map(m => (m._2, m._3))
      docs.select(col("doc_id"), col("text"),
          graft.pipeline.BpeByte.pretokens(col("text")).as("pts"))
        .select(col("doc_id"), col("text"),
          graft.functions.ByteUnicode.toBytes(array_join(flatten(
            transform(col("pts"), t => graft.functions.BpeSegment(
              graft.functions.ByteUnicode.toUnicode(t), merges))), ""))
            .as("rebuilt"))
        .filter(col("rebuilt") === col("text")).count()
    })
    // production-regime tokenizer train (round-7): 32k merges — the GPT-2
    // vocabulary size — over a letterized corpus (26-letter alphabet,
    // hash-random words of 6-10 chars → the dict cap's full 100k words,
    // ~800k symbols). The naive per-round rescan is infeasible here
    // (32k rounds × 800k-char rescans ≈ 2.6e10 symbol visits); the
    // indexed trainer touches only words containing each winning pair.
    // rows = merges actually learned before pair exhaustion.
    // letterized corpus for tokenizer-training stages: 26-letter
    // alphabet, hash-random words of 6-10 chars → the dict cap's full
    // 100k words (~800k symbols)
    def lettered = {
      val alpha = lit("abcdefghijklmnopqrstuvwxyz")
      docs.select(concat_ws(" ",
        transform(sequence(lit(0), lit(29)), i => {
          val len = pmod(hash(col("doc_id"), i, lit(1)), lit(5)) + lit(6)
          concat_ws("", transform(sequence(lit(1), len), j =>
            alpha.substr((pmod(hash(col("doc_id"), i, j), lit(26)) + 1)
              .cast("int"), lit(1))))
        })).as("text"))
    }
    stage("bpe_train_32k")(
      Bpe.trainMerges(lettered, "text", nMerges = 32000,
        maxWords = 100000).length.toLong)
    // byte-level twin at the SAME production regime (round-9): GPT-2
    // pre-tokenization feeds the dictionary (each word arrives
    // space-prefixed, so symbols start from the mapped-byte alphabet
    // with Ġ-joined boundaries — the real GPT-2 training shape); the
    // indexed trainer is shared, only the alphabet changed. rows =
    // merges learned.
    stage("byte_bpe_train_32k")(
      graft.pipeline.BpeByte.trainMerges(lettered, "text", nMerges = 32000,
        maxWords = 100000).length.toLong)
    // production-regime unigram-LM train (round-7): 2k-piece vocab via
    // soft-EM over the same 100k-word dict — each E pass is a
    // forward-backward over ~800k symbols × maxPieceLen lattice cells,
    // ~20 passes to shrink the seed to target; rows = final pieces
    stage("unigram_train_2k")(
      Unigram.trainModel(lettered, "text", vocabSize = 2000,
        maxWords = 100000).pieces.length.toLong)
    // SentencePiece-default regime (round-8): 32k pieces from a 256k
    // substring seed over the same capped dict — feasible because the
    // round-8 trainer resolves lattices once, prunes by zeroing
    // probabilities (no rebuild), and fans the E step across 32 fixed
    // chunks (bit-reproducible chunk-order merge)
    stage("unigram_train_32k")(
      Unigram.trainModel(lettered, "text", vocabSize = 32000,
        maxWords = 100000).pieces.length.toLong)
    // DSIR importance resampling (p39): hashed unigram+bigram counts per
    // (bucket, side) — one term-shaped shuffle folded to 2×1024 rows —
    // then a per-doc log-ratio sum and an exact-quantile cutoff broadcast
    stage("dsir_resample")(Dsir.importanceResample(docs, "doc_id", "text",
      isTarget = col("doc_id") % 3 === 0, buckets = 1024,
      selectFrac = 0.2).count())
    // domain mixing (p32): 20 synthetic sources, hash-derived target
    // weights, quota-k smallest-salted-hash membership per source —
    // the p32 chain verbatim (source-level scalar attaches are one-row
    // broadcast crossJoins; the per-doc work is one window rank)
    stage("domain_mix")({
      import org.apache.spark.sql.expressions.Window
      val d = docs.withColumn("source",
        concat(lit("s"), pmod(hash(col("doc_id")), lit(20))))
      val w = d.groupBy("source").agg(count(lit(1)).cast("double").as("n"))
        .withColumn("wraw",
          (TextOps.hash60(concat(lit("mix:"), col("source"))) % 5 + 1).cast("double"))
      val sw = w.agg(sum("wraw").as("sumw"))
      val p = w.crossJoin(broadcast(sw)).withColumn("p", col("wraw") / col("sumw"))
      val bigN = p.agg(floor(min(col("n") / col("p"))).as("ntot"))
      val quota = p.crossJoin(broadcast(bigN))
        .withColumn("k", floor(col("p") * col("ntot")))
        .select("source", "k")
      d.withColumn("rnk", row_number().over(Window.partitionBy("source")
          .orderBy(TextOps.hash60(concat(lit("mixsel:"), col("doc_id").cast("string"))),
            col("doc_id"))).cast("long"))
        .join(broadcast(quota), Seq("source"))
        .filter(col("rnk") <= col("k"))
        .count()
    })
    // shard write (p34): hash-deterministic 64-way shard assignment +
    // partitioned parquet write, then one partition-pruned shard read
    stage("shard_write_64")({
      val shardDir = java.nio.file.Files.createTempDirectory("smoke_shards").toString
      Sharding.writeShards(docs, "doc_id", shardDir, nShards = 64)
      val one = Sharding.readShard(spark, shardDir, 7).count()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(shardDir))
      one
    })
    val planted = n / 100
    if (found >= 0)
      println(f"[docs-scale] lsh recall vs planted: ${found * 100.0 / planted}%.1f%% " +
        s"($found of $planted); simhash_pairs=$simhashPairs")

    // decontamination: the BASE docs of the first 100 planted dup pairs
    // stand in for a benchmark — their near-dup twins (id ≡ 1 mod 100)
    // must be flagged by the broadcast semi-join pass over the corpus
    val benchIds = col("doc_id") % 100 === 0 && col("doc_id") < 10000
    val benchShingles = Dedup.shingleSets(
      docs.filter(benchIds), "doc_id", "text", 3).persist()
    stage("decontaminate_100bm")(Dedup.contaminationFlags(
      docs.filter(!benchIds), "doc_id", "text",
      benchShingles.select(explode(col("sh")).as("sh")), n = 3)
      .filter(col("contaminated")).count())
    benchShingles.unpersist()

    // hot-shingle skew: append a boilerplate sentence to HALF the corpus.
    // Without the document-frequency cutoff the inverted-index self-join
    // would emit ~(n/2)²/2 pairs from those shingles alone (quadratic —
    // unrunnable already at 200k docs); maxDf bounds the fan-out while
    // keeping the planted rare-shingle dups.
    val boiler = " common header text shared by every crawled page"
    val skewed = docs.select(col("doc_id"),
      when(col("doc_id") % 2 === 0, concat(col("text"), lit(boiler)))
        .otherwise(col("text")).as("text"))
      .persist()
    if (Seq("jaccard_skewed_maxdf", "boilerplate_strip", "span_dedup_k8",
        "char_span_dedup_30").exists(wanted)) skewed.count()
    // maxDf knob rule (measured round-7): total candidates are bounded
    // by instances·maxDf/2 (linear in n), but the bound is APPROACHED
    // quadratically while any template shingle's df sits under the
    // cutoff — here the boiler-boundary shingles (w_x common header,
    // 5000 variants) have df ≈ n/2/5000, which at maxDf=1000 slips
    // under the cutoff until n=10M and alone emitted ~1e8 candidates
    // at 2M (e=1.6 measured). The knob must sit BELOW the corpus's
    // template-shingle df — 50 excludes them from 500k docs on while
    // planted dup shingles (df=2) always survive; rows stay = planted.
    stage("jaccard_skewed_maxdf")(Dedup.jaccardPairs(
      skewed, "doc_id", "text", n = 3, threshold = 0.5, maxDf = 50).count())
    // boilerplate removal: a standalone banner line appended to EVERY doc
    // must vanish entirely (rows = docs still carrying it as a line = 0)
    stage("boilerplate_strip")(Dedup.removeBoilerplateLines(
      skewed.select(col("doc_id"),
        concat(col("text"), lit("\n"), lit(boiler.trim)).as("text")),
      "doc_id", "text", maxLineDf = 1000)
      .filter(col("text").contains("\n" + boiler.trim) ||
        col("text") === boiler.trim).count())
    // duplicated-span removal over the half-boilerplated corpus: the
    // 8-word shared suffix must survive on exactly ONE doc (rows = docs
    // still containing the span afterwards)
    stage("span_dedup_k8")(Dedup.removeDuplicateSpans(
      skewed, "doc_id", "text", k = 8)
      .filter(col("text").contains(boiler.trim)).count())
    // character-level substring dedup (p35): the 47-char shared suffix
    // sits below no floor here (minLen = 30 chars ≈ 5 tokens — the
    // sub-k-gram regime p23 can't reach); it must survive on exactly
    // one doc. Cost driver: one window hash per char position.
    stage("char_span_dedup_30")(Dedup.removeDuplicateCharSpans(
      skewed, "doc_id", "text", minLen = 30)
      .filter(col("text").contains(boiler.trim)).count())
    skewed.unpersist()

    // p59 snapshot diff: fingerprint both snapshots + one fp-only
    // full-outer join (B = corpus with 1/7 removed, 1/7 edited, 1/7
    // cloned, same derivation as the driver query)
    stage("snapshot_diff")({
      val h = pmod(hash(col("doc_id"), lit(59)), lit(7))
      val withH = docs.withColumn("__h", h)
      val b = withH.filter(col("__h") =!= 0 && col("__h") =!= 1)
        .select(col("doc_id"), col("text"))
        .unionByName(withH.filter(col("__h") === 1)
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text")))
        .unionByName(withH.filter(col("__h") === 2)
          .select((col("doc_id") + 100000000L).as("doc_id"),
            concat(col("text"), lit(" new")).as("text")))
      val fa = docs.select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fa"))
      val fb = b.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fb"))
      fa.join(fb, Seq("doc_id"), "full_outer")
        .filter(col("fa").isNull || col("fb").isNull || col("fa") =!= col("fb"))
        .count()
    })

    // incremental cross-snapshot near-dup: persist the corpus minhash
    // index ONCE (mh_index_build — linear, the crawl-N cost), then
    // screen a FIXED 20k-doc batch against it (incremental_screen_20k
    // — the crawl-N+1 serving cost, which must track the BATCH, not
    // the corpus: the decade claim is a ~flat row while the corpus
    // grows 10×). Every 10th batch doc is a 3-word-perturbed near-copy
    // of a corpus doc, so found-pair recall audits the screen.
    if (Seq("mh_index_build", "incremental_screen_20k").exists(wanted)) {
      val batchN = 20000L
      val bIsDup = col("id") % 10 === 1
      val srcId = pmod(col("id") * 97, lit(totalDocs))
      val batch = spark.range(batchN).select(
        (col("id") + totalDocs).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
          val h = when(bIsDup,
              when(i < 3, hash(col("id"), i, lit("y")))
                .otherwise(hash(srcId, i)))
            .otherwise(hash(col("id") + totalDocs, i, lit("z")))
          concat(lit("w"), pmod(h, lit(5000)))
        })).as("text")).persist()
      batch.count()
      val idxDir = s"/tmp/graft_mh_idx_$totalDocs"
      stage("mh_index_build")({
        Dedup.saveMinhashIndex(
          Dedup.minhashIndex(docs, "doc_id", "text", 3, 32, 8), idxDir, 3)
        Parquet.read(spark, s"$idxDir/index").count()
      })
      stage("incremental_screen_20k")(
        Dedup.nearDupAgainstIndex(batch, idxDir, "doc_id", "text", 0.4)
          .count())
      batch.unpersist()
    }

    // exact + line stored-index screens (round-11): the same
    // crawl-N/crawl-N+1 shape for the two CHEAPEST families. Builds
    // are linear (the crawl-N cost); the screen rows are the decade
    // claim — per-batch cost tracks the 20k batch while the corpus
    // grows 10×, because the corpus is touched only through one
    // broadcast-semi-filtered scan of its stored index.
    if (Seq("exact_index_build", "exact_screen_20k",
        "line_index_build", "line_screen_20k", "priority_screen_20k")
        .exists(wanted)) {
      val batchN = 20000L
      // every 10th batch doc duplicates a corpus doc VERBATIM (the
      // exact family's plant); the rest are fresh
      val bIsDup = col("id") % 10 === 1
      val srcId = pmod(col("id") * 97, lit(totalDocs))
      val batch = spark.range(batchN).select(
        (col("id") + totalDocs).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
          val h = when(bIsDup, hash(srcId, i))
            .otherwise(hash(col("id") + totalDocs, i, lit("z")))
          concat(lit("w"), pmod(h, lit(5000)))
        })).as("text")).persist()
      batch.count()
      val exDir = s"/tmp/graft_ex_idx_$totalDocs"
      stage("exact_index_build")({
        Dedup.saveExactIndex(docs, "doc_id", "text", exDir)
        Parquet.read(spark, s"$exDir/index").count()
      })
      val exHits = stage("exact_screen_20k")(
        Dedup.exactAgainstIndex(batch, exDir, "doc_id", "text")
          .filter(col("n_corpus") > 0).count())
      // the plant is verbatim only because srcId = (97·id) mod totalDocs
      // never lands on a perturbed corpus doc — which relies on the
      // corpus generator's perturbation classes and totalDocs % 100 == 0;
      // assert the planted count so a generator change fails loudly
      // instead of silently timing a weaker screen
      if (wanted("exact_screen_20k")) {
        require(exHits == batchN / 10,
          s"exact_screen plant broken: $exHits hits, expected ${batchN / 10} " +
            "(did the corpus generator's perturbation classes or totalDocs " +
            "multiple-of-100 coupling change?)")
        println(s"[docs-scale]   exact_screen hits=$exHits " +
          s"(planted ${batchN / 10})")
      }
      // priority screen: the same serving shape as exact_screen plus
      // the packed-winner monoid — decade behavior must match it
      if (wanted("priority_screen_20k")) {
        val prDir = s"/tmp/graft_pr_idx_$totalDocs"
        // build cost is characterized by exact_index_build (same shape
        // plus the packed-min/bitmask agg); timed row is the SCREEN
        val tb = System.nanoTime()
        Dedup.savePriorityIndex(
          docs.withColumn("priority", pmod(col("doc_id"), lit(4L))),
          "doc_id", "text", "priority", maxPriority = 3L, prDir)
        println(f"[docs-scale] priority_index_build   ${(System.nanoTime() - tb) / 1e9}%.2fs")
        stage("priority_screen_20k")(
          Dedup.priorityAgainstIndex(
            batch.withColumn("priority", pmod(col("doc_id"), lit(4L))),
            prDir, "doc_id", "text", "priority")
            .filter(col("n_corpus") > 0).count())
      }
      val lnDir = s"/tmp/graft_ln_idx_$totalDocs"
      stage("line_index_build")({
        Dedup.saveLineIndex(docs, "doc_id", "text", lnDir)
        Parquet.read(spark, s"$lnDir/index").count()
      })
      stage("line_screen_20k")(
        Dedup.linesAgainstIndex(batch, lnDir, "doc_id", "text").count())
      batch.unpersist()
    }

    // round-13: backfill-scale line + priority screens over the
    // BUCKETED layouts — a half-corpus batch (too big to broadcast),
    // the regime the bucketBy tables exist for: the batch shuffles
    // into the table's buckets, the corpus side is a bucketed scan
    // with zero exchanges, so the screen must track the BATCH across
    // the corpus decade
    if (Seq("line_backfill_bucketed", "priority_backfill_bucketed")
        .exists(wanted)) {
      val batchN = totalDocs / 2
      val bIsDup = col("id") % 10 === 1
      val srcId = pmod(col("id") * 97, lit(totalDocs))
      val batch = spark.range(batchN).select(
        (col("id") + totalDocs).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
          val h = when(bIsDup, hash(srcId, i))
            .otherwise(hash(col("id") + totalDocs, i, lit("z")))
          concat(lit("w"), pmod(h, lit(5000)))
        })).as("text")).persist()
      batch.count()
      if (wanted("line_backfill_bucketed")) {
        val dir = s"/tmp/graft_lnbk_idx_$totalDocs"
        val tb = System.nanoTime()
        Dedup.saveLineIndexBucketed(docs, "doc_id", "text", dir,
          nBuckets = 32, tablePrefix = s"lnbk_$totalDocs")
        println(f"[docs-scale] line_bk_index_build     ${(System.nanoTime() - tb) / 1e9}%.2fs")
        stage("line_backfill_bucketed")(
          Dedup.linesAgainstIndexBucketed(batch, dir, "doc_id", "text",
            tablePrefix = s"lnbk_$totalDocs").count())
      }
      if (wanted("priority_backfill_bucketed")) {
        val dir = s"/tmp/graft_prbk_idx_$totalDocs"
        val tb = System.nanoTime()
        Dedup.savePriorityIndexBucketed(
          docs.withColumn("priority", pmod(col("doc_id"), lit(4L))),
          "doc_id", "text", "priority", maxPriority = 3L, dir,
          nBuckets = 32, tablePrefix = s"prbk_$totalDocs")
        println(f"[docs-scale] priority_bk_index_build ${(System.nanoTime() - tb) / 1e9}%.2fs")
        stage("priority_backfill_bucketed")(
          Dedup.priorityAgainstIndexBucketed(
            batch.withColumn("priority", pmod(col("doc_id"), lit(4L))),
            dir, "doc_id", "text", "priority",
            tablePrefix = s"prbk_$totalDocs")
            .filter(col("n_corpus") > 0).count())
      }
      batch.unpersist()
    }

    // backfill-scale screen (round-10): the SAME corpus in the bucketed
    // layout, screened by a 632k-doc batch — a batch too big to
    // broadcast, the regime the bucketBy(join keys) tables exist for.
    // Shuffle ledger: the batch's bands shuffle into the table's
    // buckets; the corpus side is two bucketed scans, zero exchanges.
    if (Seq("mh_index_build_bucketed", "backfill_screen_632k",
        "backfill_screen_632k_symmetric").exists(wanted)) {
      val batchN = 632000L
      val bIsDup = col("id") % 10 === 1
      val srcId = pmod(col("id") * 97, lit(totalDocs))
      val batch = spark.range(batchN).select(
        (col("id") + totalDocs).as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(words - 1)), i => {
          val h = when(bIsDup,
              when(i < 3, hash(col("id"), i, lit("y")))
                .otherwise(hash(srcId, i)))
            .otherwise(hash(col("id") + totalDocs, i, lit("z")))
          concat(lit("w"), pmod(h, lit(5000)))
        })).as("text")).persist()
      batch.count()
      val idxDirB = s"/tmp/graft_mh_idx_bk_$totalDocs"
      stage("mh_index_build_bucketed")({
        Dedup.saveMinhashIndexBucketed(
          Dedup.minhashIndex(docs, "doc_id", "text", 3, 32, 8), idxDirB, 3,
          nBuckets = 32, tablePrefix = s"smoke_mh_$totalDocs")
        Parquet.read(spark, s"$idxDirB/index").count()
      })
      stage("backfill_screen_632k")(
        Dedup.nearDupAgainstIndexBucketed(batch, idxDirB, "doc_id", "text",
          0.4, tablePrefix = s"smoke_mh_$totalDocs").count())
      // the memory-robust variant (round-11): batch-side barriers on
      // DISK_ONLY — on a memory-tight executor (SPARK_DRIVER_MEM=24g,
      // the round-10 footgun row) the predictable spill replaces the
      // eviction-recompute of the batch prep; on a roomy heap the
      // overhead vs the default level is the ser/deser of the barriers
      stage("backfill_screen_632k_diskonly")(
        Dedup.nearDupAgainstIndexBucketed(batch, idxDirB, "doc_id", "text",
          0.4, tablePrefix = s"smoke_mh_$totalDocs",
          batchStorage = org.apache.spark.storage.StorageLevel.DISK_ONLY)
          .count())
      // the comparison row: the SAME batch through the pre-round-10
      // symmetric fallback (plain layout, broadcastBatch=false) — the
      // full stored band+shingle relations shuffle per batch. Needs the
      // plain index from the mh_index_build stage at this size.
      stage("backfill_screen_632k_symmetric")(
        Dedup.nearDupAgainstIndex(batch, s"/tmp/graft_mh_idx_$totalDocs",
          "doc_id", "text", 0.4, broadcastBatch = false).count())
      batch.unpersist()
    }

    // 48-bit-signature screen (p82): index the corpus's signatures
    // (groups of 4 share a base, planted flips), then screen a FIXED
    // 20k batch. maxHamming=2 → 3 bands of 16 bits (the documented
    // simhash banding rule): random candidates per batch row ≈
    // 3·corpus/65536 — linear in corpus with a 2^-16 constant, which
    // is the honest scale law of hamming banding (unlike minhash,
    // whose bucket count grows with content diversity)
    if (wanted("sig_index_build") || wanted("hamming_screen_20k")) {
      def sigOf(idc: org.apache.spark.sql.Column) = {
        val base = idc - pmod(idc, lit(4))
        // xxhash64, not hash(): a 32-bit hash leaves the top 16-bit
        // band all-zero — one bucket holding the whole corpus
        pmod(xxhash64(base), lit(1L << 48))
      }
      val sigs = docs.select(col("doc_id"),
        sigOf(col("doc_id"))
          .bitwiseXOR(when(col("doc_id") % 4 >= 1,
            expr("shiftleft(1L, cast(doc_id % 48 as int))"))
            .otherwise(lit(0L))).as("sig"))
      val batchSigs = spark.range(20000).select(
        (col("id") + totalDocs).as("doc_id"),
        sigOf(col("id") * lit(4)) // every batch row hits one corpus group
          .bitwiseXOR(expr("shiftleft(1L, cast((id * 7) % 48 as int))"))
          .as("sig"))
        .persist()
      batchSigs.count()
      val sigDir = s"/tmp/graft_sig_idx_$totalDocs"
      stage("sig_index_build")({
        Dedup.saveSignatureIndex(sigs, sigDir, "doc_id", "sig", maxHamming = 2)
        Parquet.read(spark, s"$sigDir/sigs").count()
      })
      stage("hamming_screen_20k")(
        Dedup.hammingAgainstIndex(batchSigs, sigDir, "doc_id", "sig").count())
      // the band-geometry knob at work: same cutoff, 6 blocks instead
      // of the minimal 3 → C(6,2)=15 cells/doc but 32-bit keys, so the
      // residual candidate law drops from 3·batch·corpus/2^16 to
      // 15·batch·corpus/2^32 — the growth CONSTANT shrinks ~13000×,
      // which the decade rows should show as a near-flat screen
      val sigDirW = s"/tmp/graft_sig_idx_w_$totalDocs"
      stage("sig_index_build_wide")({
        Dedup.saveSignatureIndex(sigs, sigDirW, "doc_id", "sig",
          maxHamming = 2, nBlocks = 6)
        Parquet.read(spark, s"$sigDirW/sigs").count()
      })
      stage("hamming_screen_20k_wide")(
        Dedup.hammingAgainstIndex(batchSigs, sigDirW, "doc_id", "sig").count())
      batchSigs.unpersist()
    }

    // ANN over synthetic embeddings: half the doc count, 64 dims, with
    // planted near-dups (id ≡ 1 mod 100 = predecessor with coordinate 0
    // nudged → cosine ≈ 0.999) so banded-pair recall is checkable.
    // The block's gate name carries every stage prefix it prints, so a
    // stage filter like "ann" or "pq" keeps it and "lm,dsir" skips it.
    if (!wanted("ann_cosine_pairs_banded_embedding_clusters_semantic_dedup_lsh_cos_index_build_cosine_screen_20k_pq_ivfpq_source_outliers_hard_neg_brute_100q_hard_neg_banded_100q_bitext")) {
      docs.unpersist(); return
    }
    val nVec = math.max(10000L, totalDocs / 2)
    val isDupV = col("id") % 100 === 1
    val baseIdV = when(isDupV, col("id") - 1).otherwise(col("id"))
    val vecs = spark.range(nVec).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        d => (pmod(hash(baseIdV, d), lit(2001)) - 1000) / lit(1000.0) +
          when(isDupV && d === 0, lit(0.5)).otherwise(lit(0.0)))
        .as("embedding"))
      .persist()
    vecs.count()
    def vstage(name: String)(rows: => Long): Unit = {
      if (!wanted(name)) return
      val t0 = System.nanoTime()
      val r = rows
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[docs-scale] $name%-22s $sec%8.2fs  rows=$r")
    }
    vstage(s"ann_brute_100q_${nVec / 1000}kvec")(
      Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 100), 5).count())
    vstage("ann_lsh_multiprobe")(
      Similarity.lshBucketedTopK(vecs, vecs.filter(col("vec_id") < 1000),
        5, nPlanes = 8, dim = 64, probes = 2).count())
    // banded near-dup pairs over the full corpus: random pairs collide
    // with P ≈ L/2^b per pair, i.e. an n²·L/2^b candidate component —
    // so b (planes per table) must GROW with log2(n) to hold the verify
    // join linear. b = log2(n)+4 keeps expected random candidates at
    // ~n·L/16 while planted ~0.999-cosine dups still collide in ≥1 of 8
    // tables with P > 0.999 (per-plane agreement ≈ 0.986 ⇒ 0.986^b ≈
    // 0.7 at n=1M ⇒ 1-(1-0.7)^8 ≈ 0.9997).
    val planesB = math.max(16,
      (math.log(nVec.toDouble) / math.log(2.0)).ceil.toInt + 4)
    val plantedV = (nVec + 98) / 100
    // hard negatives, brute vs banded (round-11: the verdict's one
    // `weak` closed): the brute pair loop is O(queries x corpus) by
    // construction; the banded form's verify tracks bucket collisions,
    // and with planesPerTable growing log2(n) (the cosine_pairs_banded
    // sizing note) expected random-mass candidates per query stay
    // ~FLAT across the decade — the rows to compare are seconds at
    // 200k vs 2M (nVec 100k vs 1M): brute ~10x, banded ~flat.
    if (wanted("hard_neg")) {
      val vecsL = vecs.withColumn("label", pmod(col("vec_id"), lit(16)))
      vstage("hard_neg_brute_100q")(
        Similarity.hardNegativesTopK(vecsL,
          vecsL.filter(col("vec_id") < 100), 5).count())
      vstage("hard_neg_banded_100q")(
        Similarity.hardNegativesBandedTopK(vecsL,
          vecsL.filter(col("vec_id") < 100), 5,
          tables = 8, planesPerTable = planesB, dim = 64).count())
    }
    // bitext margin mining, brute vs banded (the p130/p131 pair): tgt =
    // every vector mixed with its reverse and re-keyed, src = 100
    // queries — brute margins pay O(src·corpus), the banded form's
    // candidate graph tracks bucket collisions (~flat across the decade)
    if (wanted("bitext")) {
      val tgtV = vecs.select((col("vec_id") + 100000000L).as("vec_id"),
        zip_with(col("embedding"), reverse(col("embedding")),
          (a, b) => a * 0.9 + b * 0.1).as("embedding"))
      val srcV = vecs.filter(col("vec_id") < 100)
      vstage("bitext_brute_100q")(
        Similarity.bitextMarginMine(srcV, tgtV, k = 5,
          marginMilliMin = 1800L).filter(col("mined")).count())
      vstage("bitext_banded_100q")(
        Similarity.bitextMarginMineBanded(srcV, tgtV, k = 5,
          marginMilliMin = 1800L, tables = 8, planesPerTable = planesB,
          dim = 64).filter(col("mined")).count())
    }
    if (wanted("cosine_pairs_banded")) {
      val t0 = System.nanoTime()
      val cosFound = Similarity.cosineNearDupPairs(vecs, threshold = 0.98,
        tables = 8, planesPerTable = planesB).count()
      val cosSec = (System.nanoTime() - t0) / 1e9
      println(f"[docs-scale] cosine_pairs_banded   $cosSec%8.2fs  rows=$cosFound " +
        f"recall=${cosFound * 100.0 / plantedV}%.1f%% of $plantedV planted")
    }
    // pairs → duplicate clusters (the p30 composition): connected
    // components over the banded-LSH near-dup graph
    if (wanted("embedding_clusters")) {
      val t0c = System.nanoTime()
      val nClusters = Dedup.duplicateClusters(
          Similarity.cosineNearDupPairs(vecs, threshold = 0.98,
            tables = 8, planesPerTable = planesB)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select("cluster_id").distinct().count()
      println(f"[docs-scale] embedding_clusters    ${(System.nanoTime() - t0c) / 1e9}%8.2fs  " +
        f"clusters=$nClusters (planted pair groups ≈ $plantedV)")
    }
    // full SemDeDup, scale-safe form: banded-LSH tau-pairs (same
    // log2(n) plane rule) + star cap + seed assignment + components +
    // representative pick, priced end to end; removed = planted dups
    if (wanted("semantic_dedup_lsh")) {
      val t0sd = System.nanoTime()
      val sdRemoved = Similarity.semanticDedupLsh(vecs, k = 64, tau = 0.98,
          tables = 8, planesPerTable = planesB, starCapBucket = 1000)
        .filter(!col("kept")).count()
      println(f"[docs-scale] semantic_dedup_lsh    ${(System.nanoTime() - t0sd) / 1e9}%8.2fs  " +
        f"removed=$sdRemoved (planted ≈ $plantedV)")
    }
    // embedding-side cross-snapshot screen: persist the banded cosine
    // index once (cos_index_build), then near-dup a FIXED 20k-vector
    // batch against it (cosine_screen_20k — the p73 serving shape;
    // every 10th batch vector is a coord-0-shifted copy of a corpus
    // vector, the corpus's own planting scheme)
    if (Seq("cos_index_build", "cosine_screen_20k").exists(wanted)) {
      val bN = 20000L
      val bIsDupV = col("id") % 10 === 1
      // hash-spread sources over the multiples of 100 (never the
      // corpus's own %100==1 dups), so batch dups rarely share one
      val bSrc = pmod(hash(col("id"), lit(7)), lit(nVec / 100)) * 100
      val batch = spark.range(bN).select(
        (col("id") + nVec).as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          d => (pmod(hash(when(bIsDupV, bSrc).otherwise(col("id") + nVec), d),
            lit(2001)) - 1000) / lit(1000.0) +
            when(bIsDupV && d === 0, lit(0.5)).otherwise(lit(0.0)))
          .as("embedding")).persist()
      batch.count()
      val cosIdxDir = s"/tmp/graft_cos_idx_$totalDocs"
      vstage("cos_index_build")({
        Similarity.saveCosineIndex(vecs, cosIdxDir,
          tables = 8, planesPerTable = planesB, dim = 64)
        Parquet.read(spark, s"$cosIdxDir/vectors").count()
      })
      vstage("cosine_screen_20k")(
        Similarity.cosineNearDupAgainstIndex(batch, cosIdxDir, 0.98).count())
      batch.unpersist()
    }
    // int8-quantized candidate scan + exact rescore vs the double
    // brute force above — same 100 queries; the quantized kernel
    // (DotProductBytes over array<tinyint>) reads 8× less per pair
    vstage(s"ann_quantized_100q")(
      Similarity.quantizedRescoreTopK(vecs, vecs.filter(col("vec_id") < 100),
        k = 5, m = 15).count())
    // PQ: train 8×256 codebooks, encode the corpus to 8-byte codes (32×
    // smaller scan set than the double vectors), ADC scan + rescore the
    // same 100 queries — the memory-bandwidth scale path
    if (wanted("pq_index_build") || wanted("ann_pq_100q")) {
      val tPq = System.nanoTime()
      val (pqCb, pqCodes) = Similarity.pqIndex(vecs, nSub = 8, ksub = 256,
        maxIter = 5)
      // count INSIDE the timed window so the row covers codebook training
      // AND the corpus encode scan, comparable with ivfpq_index_build
      val nPqCodes = pqCodes.count()
      val pqBuildSec = (System.nanoTime() - tPq) / 1e9
      println(f"[docs-scale] pq_index_build        $pqBuildSec%8.2fs  rows=$nPqCodes")
      vstage("ann_pq_100q")(
        Similarity.pqTopK(pqCodes, pqCb, vecs, vecs.filter(col("vec_id") < 100),
          k = 5, mCand = 25).count())
    }
    // IVF-PQ: the probe-pruned variant of the same scan — 8 of 64
    // lists per query, so the ADC stage reads ~1/8 of the codes and
    // the join is pure equality (no per-query full scan at all)
    if (wanted("ivfpq_index_build") || wanted("ann_ivfpq_100q")) {
      val tIvfPq = System.nanoTime()
      val (ipCents, ipCb, ipCodes) = Similarity.ivfPqIndex(vecs,
        nLists = 64, nSub = 8, ksub = 256, maxIter = 5)
      ipCodes.count()
      println(f"[docs-scale] ivfpq_index_build     ${(System.nanoTime() - tIvfPq) / 1e9}%8.2fs  rows=${ipCodes.count()}")
      vstage("ann_ivfpq_100q")(
        Similarity.ivfPqTopK(ipCodes, ipCents, ipCb, vecs,
          vecs.filter(col("vec_id") < 100), k = 5, mCand = 25, nProbe = 8).count())
    }
    // p60 shape: per-label quantized centroid + distance + exact p95
    // flag over the synthetic vectors (10 hash labels)
    vstage("source_outliers")({
      val e = vecs.select(col("vec_id"),
        pmod(hash(col("vec_id"), lit(60)), lit(10)).as("label"),
        col("embedding").cast("array<double>").as("v"))
      val comp = e.select(col("label"), posexplode(col("v")))
        .withColumn("qx", round(col("col") * lit(1000000.0)).cast("long"))
        .groupBy("label", "pos").agg(sum("qx").as("sq"), count(lit(1)).as("n"))
      val cent = comp
        .withColumn("c", round(col("sq") / (col("n") * lit(1000000.0)), 6))
        .groupBy("label")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("centroid"))
      val dist = e.join(broadcast(cent), "label")
        .withColumn("__d", zip_with(col("v"), col("centroid"), (x, c) => x - c))
        .select(col("vec_id"), col("label"),
          round(sqrt(Similarity.dot(col("__d"), col("__d"))), 6).as("dist"))
        .persist()
      val cut = dist.groupBy("label")
        .agg(round(percentile(col("dist"), lit(0.95)), 6).as("cut"))
      dist.join(broadcast(cut), "label")
        .filter(col("dist") > col("cut")).count()
    })
    vecs.unpersist()
    docs.unpersist()
  }
}
