package graft.relational

import graft.ts.SparkSpecBase

/** Physical-plan regression pins: the properties below are the load-
  * bearing scale claims of the engine (single exchange per detector
  * ensemble, parquet pushdown), so a future edit that silently regresses
  * one fails here rather than at cluster scale. The detector plans are
  * pinned on both sides of the small-input bound: the large-input plan
  * with the bound pinned below the frame's size
  * ([[graft.ts.SparkSpecBase.aboveSmallBound]]), the one-partition plan
  * at the default conf.
  */
class PlanShapeSpec extends SparkSpecBase {

  val sfDir = "/root/testdata/sf0.001"

  private def countOccurrences(plan: String, token: String): Int =
    plan.sliding(token.length).count(_ == token)

  /** det_combined's plan: `exchanges` Exchange nodes and ONE sort. */
  private def detCombinedPlan(exchanges: Int): Unit = {
    val df = graft.SparkEntry.queries("det_combined")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // every detector in the ensemble shares the (series_id, ts) window
    // spec, so Catalyst collapses all masks into one Window over one
    // shuffle — the property that makes a 100-detector ensemble cost the
    // same shuffle as a single detector
    val got = countOccurrences(plan, "Exchange ")
    val sorts = countOccurrences(plan, "+- Sort ") + (if (plan.startsWith("Sort ")) 1 else 0)
    assert(got == exchanges, s"expected $exchanges Exchange, got $got:\n$plan")
    assert(sorts == 1, s"expected 1 Sort, got $sorts:\n$plan")
  }

  testAboveSmallBound("det_combined ensemble runs in ONE exchange + ONE sort (single-pass plan)") {
    detCombinedPlan(exchanges = 1)
  }

  test("det_combined below the small-input bound runs in ONE partition: NO exchange, ONE sort") {
    detCombinedPlan(exchanges = 0)
  }

  /** Hampel, rolling-std and a 3-member ensemble over a persisted
    * 400-row frame: `exchanges` Exchange nodes, ONE sort, one window
    * operator per single detector, no sliding aggregate frame.
    */
  private def persistedFramePlans(exchanges: Int): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{RowFrame, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression}
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.execution.{SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions._
    import graft.ts._
    // the tail-of-frame kernels run over growing frames and share the
    // ordered window's shuffle and sort (a single detector: its one window
    // operator); a sliding (bounded-lower) ROWS frame on an aggregate
    // would re-aggregate the whole frame per row
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case other => other +: other.children.flatMap(nodes)
    }
    val frame = spark.range(400).select((col("id") % 4).as("sid"),
      col("id").as("ts"), sin(col("id")).as("value")).persist()
    try {
      frame.count()
      val spec = SeriesSpec(seriesId = Seq("sid"))
      for ((name, det) <- Seq(
          "hampel" -> HampelDetector(5, 3.0),
          "rolling_std" -> RollingStdDevDetector(10, 1.0),
          "rolling_std_trailing" -> RollingStdDevDetector(10, 1.0, center = false),
          "ensemble" -> CombinedDetector(Seq(
            RangeDetector(-0.9, 0.9), DiffDetector(1.5), HampelDetector(5, 3.0))))) {
        val df = det.detect(frame, spec)
        val plan = nodes(df.queryExecution.executedPlan)
        val got = plan.count(_.isInstanceOf[Exchange])
        val sorts = plan.count(_.isInstanceOf[SortExec])
        val windows = plan.count(_.isInstanceOf[WindowExec])
        assert(got == exchanges && sorts == 1 && (name == "ensemble" || windows == 1),
          s"$name: $got exchange(s), $sorts sort(s), $windows window(s):\n" +
            df.queryExecution.executedPlan)
        val sliding = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
          case WindowExpression(_: AggregateExpression, s) => s.frameSpecification
        })).collect { case f @ SpecifiedWindowFrame(RowFrame, lower, _) if lower != UnboundedPreceding => f }
        assert(sliding.isEmpty, s"$name aggregates over sliding frame(s) $sliding")
      }
    } finally frame.unpersist(blocking = true)
  }

  testAboveSmallBound("Hampel, rolling-std and a 3-member ensemble over a persisted frame: ONE exchange + ONE sort, no sliding aggregate frame") {
    persistedFramePlans(exchanges = 1)
  }

  test("Hampel, rolling-std and a 3-member ensemble over a small persisted frame: NO exchange, ONE sort, one window per single detector") {
    persistedFramePlans(exchanges = 0)
  }

  test("projection-only pipeline queries carry ZERO exchanges (p49/p84/p89/p92/p95)") {
    // the design claim behind each: per-row column algebra end to end —
    // a shuffle appearing here means an aggregate/join crept into what
    // must scale as a pure map
    for (name <- Seq("p49_html_extract", "p84_char_entropy",
        "p89_main_content", "p92_gpt2_pretokenize", "p95_readability")) {
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val exchanges = countOccurrences(plan, "Exchange ")
      assert(exchanges == 0, s"$name grew $exchanges exchange(s):\n$plan")
    }
  }

  test("p125 weighted sample ranks without a Window (hot-group safety)") {
    // the r12 verdict's one weak: a row_number window materializes a
    // whole group in one task, and AQE never splits window partitions —
    // the ranking must stay inside the TopKLongs packed aggregate
    val plan = graft.SparkEntry.queries("p125_weighted_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"p125 grew a Window node — the hot-group-unsafe shape:\n$plan")
    assert(plan.contains("partial_topklongs"),
      s"p125 no longer ranks through the map-side-pruned TopKLongs:\n$plan")
  }

  test("q2 parquet scan carries pushed filters and a pruned read schema") {
    val df = graft.SparkEntry.queries("q2_filter_pushdown")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("FileScan parquet"))
      .getOrElse(fail(s"no parquet scan in plan:\n$plan"))
    assert(scanLine.contains("PushedFilters: [") &&
      !scanLine.contains("PushedFilters: []"),
      s"no pushed filters on the scan:\n$scanLine")
    // the scan must not read the full 16-column lineitem schema
    val readSchema = scanLine.split("ReadSchema: ").last
    val nCols = readSchema.count(_ == ':')
    assert(nCols <= 8, s"scan reads $nCols columns — pruning regressed:\n$readSchema")
  }

  test("IVF-PQ serve scan is pruned to the probed inverted lists (DPP)") {
    // the persisted code table is PARTITIONED BY list; the serve join on
    // the broadcast probed-query frame must plan a dynamic-partition-
    // pruning filter on the scan, so each query batch reads only
    // ~nProbe/nLists of the code files — the property that makes IVF-PQ
    // serving ~flat in corpus size at 100 TB
    val df = graft.SparkEntry.queries("p29_ann_ivfpq")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruningexpression"),
      s"no dynamic partition pruning on the IVF-PQ serve scan:\n$plan")
  }

  test("p69 tau-pair stage is an equality join on (band, bucket) — no theta join") {
    // the scale claim of semanticDedupLsh: the pair source shuffles on
    // the (band, bucket) key instead of self-joining clusters — this
    // pins the physical join kind AND its keys (the final p69 plan may
    // hide the stage behind duplicateClusters' gated driver fast path,
    // so the pair stage is asserted directly)
    val embDf = graft.Tables.load(spark, sfDir, "embeddings")
    val pairs = graft.pipeline.Similarity.cosineNearDupPairs(embDf,
      threshold = 0.35, tables = 16, planesPerTable = 8, dim = 64,
      starCapBucket = 24)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"p69 pair stage degenerated to a theta join:\n$plan")
    val eqJoinOnBand =
      "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\\n]{0,60}band#"
        .r.findFirstIn(plan)
    assert(eqJoinOnBand.isDefined,
      s"no equality join keyed on band/bucket in the pair stage:\n$plan")
  }

  test("no forced broadcast hint on a fact-scale frame (hint allowlist sweep)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, ResolvedHint}
    // Tables that grow linearly with SF — a broadcast() hint whose subtree
    // scans one of these UNBOUNDED is a baked-in OOM at 100×: the hint
    // wins over AQE's size estimate, so the plan cannot adapt. True dims
    // (nation: 25 rows, region: 5) are constant-size and always safe.
    val factTables = Seq("customer", "orders", "lineitem", "part",
      "supplier", "partsupp", "events", "documents", "embeddings")
    val trueDims = Set("nation", "region")
    // Broadcasts that DO scan a fact table but are bounded by
    // construction — each entry names the bound so a reviewer can audit
    // it. (Structurally-bounded subtrees — those containing an Aggregate
    // or GlobalLimit — are allowed without listing.)
    val boundedByName: Map[String, String] = Map(
      "p6_ann_topk" -> "serve-time query batch: embeddings filtered to vec_id < 20",
      "p7_ann_lsh" -> "serve-time query batch: vec_id < 50 (+ multi-probe explode)",
      "p15_ann_ivf" -> "serve-time query batch: vec_id < 50, probed per list",
      "p21_ann_quantized" -> "serve-time query batch: vec_id < 20 (int8 + full-precision rescore frames)",
      "p27_ann_pq" -> "serve-time query batch + per-query PQ LUT (k*dsub doubles each)",
      "p29_ann_ivfpq" -> "serve-time query batch + per-query LUT, probed per list",
      "p17_decontaminate" -> "benchmark shingle set: fixed eval suite, small by construction",
      "p18_clean_corpus" -> "composes p17's benchmark shingle broadcast",
      // the incremental screens broadcast the ARRIVING BATCH's band
      // cells so the stored corpus is scanned, never shuffled — the
      // serving contract bounds the batch (a crawl increment);
      // broadcastBatch=false restores the symmetric shuffle join for
      // backfill-scale batches
      "p71_incremental_neardup" -> "arriving batch band cells: bounded crawl increment",
      "p73_incremental_semantic" -> "arriving batch band cells: bounded crawl increment",
      "p82_incremental_hamming" -> "arriving batch band cells: bounded crawl increment")
    for ((name, fn) <- graft.SparkEntry.queries) {
      val analyzed = fn(spark, sfDir).queryExecution.analyzed
      val hints = analyzed.collect {
        case h: ResolvedHint if h.hints.toString.toLowerCase.contains("broadcast") => h
      }
      for (h <- hints) {
        val leaves = h.child.collectLeaves().map(_.toString).mkString("\n")
        val factsHit = factTables.filter(ft => leaves.contains(s"$ft.parquet"))
        val dimsOnly = factsHit.isEmpty &&
          (trueDims.exists(d => leaves.contains(s"$d.parquet")) || leaves.isEmpty)
        val structurallyBounded = h.child.collectFirst {
          case a: Aggregate => a; case g: GlobalLimit => g
        }.isDefined
        assert(dimsOnly || structurallyBounded || boundedByName.contains(name) ||
          factsHit.isEmpty,
          s"$name force-broadcasts a frame scanning fact-scale table(s) " +
            s"${factsHit.mkString(", ")} with no Aggregate/GlobalLimit bound " +
            s"and no allowlist entry — a 100× scale hazard")
      }
    }
  }

  test("no HOF argument appears twice un-aliased in one projection/filter (materialize-once sweep)") {
    // The r13/r14 discipline behind the fused gates and serve passes:
    // HigherOrderFunction arguments get no CSE — codegen subexpression
    // elimination does not cross lambda boundaries, and predicate
    // pushdown re-INLINES aliased arrays into filter conditions — so a
    // non-trivial subtree feeding a HOF that also appears elsewhere in
    // the same node's expressions is evaluated once PER OCCURRENCE per
    // row. Offenders are fixed by materializing a column, folding once
    // with a finish lambda (bound variables are free to re-read), or a
    // cache barrier where pushdown is the duplicator (p56).
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, HigherOrderFunction}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project}
    val whitelist: Map[String, String] = Map(
      // the int8 quantizer casts the embedding array twice per row (the
      // max-abs fold input + the finish lambda's quantize transform) —
      // the residual of replacing the O(dim²) in-lambda scale fold with
      // the single finish-bound fold; binding the cast itself would
      // need an outer HOF with no corresponding array shape
      "p21_ann_quantized" -> "double cast: fold input + finish transform")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(name: String, where: String, exprs: Seq[Expression]): Unit = {
      val hofArgs = exprs.flatMap(_.collect {
        case h: HigherOrderFunction => h.arguments.filterNot(a =>
          a.isInstanceOf[Attribute] || a.foldable)
      }.flatten)
      for (arg <- hofArgs.map(_.canonicalized).distinct) {
        val occ = exprs.map(e =>
          e.collect { case s if s.canonicalized == arg => s }.size).sum
        if (occ > 1) offenders +=
          s"$name [$where] occ=$occ arg=${arg.toString.take(120)}"
      }
    }
    for ((name, fn) <- graft.SparkEntry.queries if !whitelist.contains(name)) {
      val qe = fn(spark, sfDir).queryExecution
      qe.optimizedPlan.foreach { node =>
        node match {
          case p: Project => check(name, "Project", p.projectList)
          case f: Filter => check(name, "Filter", Seq(f.condition))
          case a: Aggregate => check(name, "Aggregate", a.aggregateExpressions)
          case _ =>
        }
      }
      // ALSO walk cached plans: persistTracked frames hide their (already
      // optimized and pushdown-processed) plan behind InMemoryRelation —
      // exactly where the r14 p91 finding lived: a filter pushed onto the
      // cache with the fused gate verdict inlined carried 15 copies of
      // the tokenizer, invisible to the top-level sweep above.
      import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
      import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
      val seenCaches = scala.collection.mutable.Set.empty[String]
      def walk(p: SparkPlan): Unit = p.foreach {
        case f: FilterExec => check(name, "FilterExec", Seq(f.condition))
        case pr: ProjectExec => check(name, "ProjectExec", pr.projectList)
        case im: InMemoryTableScanExec =>
          if (seenCaches.add(im.relation.cacheBuilder.cachedName))
            walk(im.relation.cachedPlan)
        case _ =>
      }
      walk(qe.executedPlan)
      graft.pipeline.CacheLedger.drain()
    }
    assert(offenders.isEmpty,
      s"HOF inputs re-derived per reference (materialize once, fold in " +
        s"a finish lambda, or whitelist with a reason):\n" +
        offenders.mkString("\n"))
  }

  test("EVERY query plan is cartesian-free and UDF-free (sweep)") {
    // p6 is the brute-force ANN baseline: a deliberate broadcast
    // theta-join (every query × every corpus vector) kept as the exact
    // recall reference — the scale paths are p7/p15/p5; p21's candidate
    // stage is the same deliberate exhaustive scan, over 8x-smaller
    // int8 codes (its scale variant is IVF/LSH + quantized lists)
    // p27's candidate stage scans PQ code arrays (32× smaller than the
    // vectors) against broadcast LUTs — deliberate, like p21.
    // (p7/p15/p29's recall certificates read PERSISTED truth now —
    // AnnIO.loadTruth — so their plans are equality-joins plus the
    // one-row mean attach below; no theta exemption needed anymore)
    // p42 scans the corpus against the broadcast EVAL-SET embeddings
    // (small by construction — it's a benchmark): the same deliberate
    // exhaustive-scan shape as p6, folded to one row per corpus vector
    // by the argmax aggregate
    val intentionalThetaJoins = Set("p6_ann_topk", "p21_ann_quantized",
      "p27_ann_pq", "p42_embedding_decontaminate")
    // p13 attaches a ONE-ROW aggregate (the corpus count for IDF) via
    // crossJoin(broadcast(...)) — a BroadcastNestedLoopJoin whose build
    // side is a single row is O(n·1), the canonical lazy scalar attach.
    // (p29 used to carry a BNLJ for its ADC lookup-table crossJoin; the
    // codegen'd PqLut projection removed it — p29 is now equality-joins
    // only and gets no exemption). p32 attaches two one-row scalars
    // (weight sum, total N) to its ~20-row source-level frame the same
    // way
    // p36 attaches the one-row (n, v) corpus total the same way; p38
    // composes p36 + a one-row tertile-cutoff attach; p39 attaches
    // bucket totals + the selection cutoff (one row each); the recall
    // certificates (p7/p15/p29) attach their one-row mean_recall; p46
    // attaches the one-row vocabulary size (the p36 shape over bigrams)
    // p48 attaches the one-row (Σsqrt, N) totals to the per-lang counts
    // p51 attaches one-row (N, L) totals + the one-row waterline (k,
    // capsum) to the per-lang count frame; p52 attaches the one-row
    // (N, avgdl) corpus stats to the ≤|queryTerms| idf frame and the
    // per-doc tf frame; p53 attaches the one-row corpus token total to
    // the bounded bucket histogram (all the p36 shape)
    // p56 attaches the one-row token and pair totals to the pair-count
    // frame before the PMI projection
    // p65 attaches the one-row N1+(··) bigram-type total (p46's shape)
    // (p64 used to be a non-scalar exemption for its k-row seed
    // crossJoin; assignSeeds now unrolls the collected seeds into one
    // codegen projection, so p64/p69 carry no BNLJ at all)
    val scalarAttachJoins = Set("p13_text_tfidf", "p32_domain_mix",
      // p152 attaches the one-row (total tokens, total target weight)
      // scalar to the ≤|sources|-row mixture frame (the p36 shape)
      "p152_token_mix",
      // p107 attaches the one-row corpus-token total (the p36 shape)
      "p107_repeat_upsample",
      // p104 is the brute-force pair loop BY DESIGN (the oracle-exact
      // baseline, bounded broadcast query side — the p6/p7 truth class)
      "p104_hard_negatives",
      // p130 is the bitext-mining brute baseline BY DESIGN (broadcast
      // src side × corpus scan — the exact truth p131's banded
      // candidate graph is certified against; p131 itself carries only
      // equality joins and gets no exemption)
      "p130_bitext_margin",
      "p36_lm_score", "p38_lm_buckets", "p39_dsir_resample",
      "p7_ann_lsh", "p15_ann_ivf", "p29_ann_ivfpq", "p46_bigram_lm",
      "p48_lang_sample", "p51_unimax_sample", "p52_bm25_topk",
      "p53_budget_select", "p56_pmi_pairs",
      // p67 attaches the one-row corpus total to the ≤max-cluster-size
      // histogram frame (the p36 shape)
      // p79 attaches the same one-row N1+(··) total to the trigram-TYPE
      // score frame (p65's shape one order up)
      // p86 attaches the one-row corpus token total to the
      // (source, term) count frame (the p36 shape)
      // p87 attaches the one-row (Na, Nb) snapshot totals to the
      // vocab-sized drift frame (same shape)
      // p88 attaches the one-row (lo, hi) id bounds to the doc frame
      // and its window runs over <= buckets rows
      "p65_kn_bigram", "p67_dedup_report", "p79_kn_trigram",
      "p86_domain_kl", "p87_vocab_drift", "p88_vocab_growth",
      // p90 attaches the one-row held-out agreement rate (its in-plan
      // certificate, the withRecall shape)
      "p90_trained_quality_gate",
      // p99 is a one-row DATASHEET: four one-row aggregate frames
      // (top-lang, two gate pass rates, PII incidence) attach to the
      // one-row base aggregate — every crossJoin side is
      // Aggregate/GlobalLimit-bounded
      "p99_corpus_datasheet",
      // p116 attaches the ONE-ROW multi-percentile cutoff aggregate
      // (the p38 shape: bucket-free exact percentiles, never a global
      // sort) to the scored-doc frame
      "p116_anneal_schedule")
    for ((name, fn) <- graft.SparkEntry.queries
         if !intentionalThetaJoins(name)) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
      assert(scalarAttachJoins(name) || !plan.contains("BroadcastNestedLoopJoin"),
        s"$name has an O(n²) join")
      assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
        s"$name fell out of codegen into a UDF")
    }
  }
}
