package graft

/** Plan-shape assertions: the scale claims in SCALING.md, locked in as
  * tests so regressions surface as failures, not slow clusters.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q1: filter pushed to parquet, columns pruned, hash-aggregated") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey")) // pruned
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"))
  }

  test("gold bars: HashAggregate (ArgExtremum), pruned scan, no sort-agg") {
    val p = plan("gold_bars_1m")
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"))
    // props (the widest events column) must not be read
    assert(!p.contains("props"))
  }

  test("star joins broadcast every dimension (fact never shuffles for joins)") {
    val p = plan("region_revenue")
    assert(p.split("\\(\\d+\\) BroadcastHashJoin").length - 1 == 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("bucketed fact-fact surface: the join itself never shuffles") {
    // broadcast disabled so the co-located SortMergeJoin is what's
    // asserted, not a small-SF broadcast shortcut
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("bucketed_order_revenue")
      assert(p.contains("SortMergeJoin"))
      // both fact scans feed the join straight from their bucket layout
      assert(p.split("Bucketed: true").length - 1 == 2, s"unbucketed scan:\n$p")
      // the only exchanges are ABOVE the join: the tiny group-by hash
      // exchange + the output-order range exchange
      val exchanges = p.split("\\(\\d+\\) Exchange").length - 1
      assert(exchanges == 2, s"expected 2 exchanges (agg + sort), got $exchanges:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_b_orders")
      spark.sql("DROP TABLE IF EXISTS graft_b_lineitem")
    }
  }

  test("unigram apply is distributed: model as plan constant, word table never collected") {
    // the piece model (vocab-sized) rides as a codegen reference
    // object; the word-type table (corpus-sized, Heaps' law) must stay
    // in the cluster — any Join/broadcast of it here is the driver-DP
    // regression this pins against
    val pf = plan("unigram_fertility")
    assert(!pf.contains("Join"), s"fertility must be join-free:\n$pf")
    assert(pf.contains("unigram_budget"), "compiled budget expression missing")
    // map-only: the single exchange is the presentation sort
    assert(pf.split("\\(\\d+\\) Exchange").length - 1 == 1,
      s"fertility should be one map pass + output sort:\n$pf")
    val ps = plan("unigram_segment")
    assert(!ps.contains("Join"), s"segment must be join-free:\n$ps")
    assert(ps.contains("unigram_segment"), "compiled segment expression missing")
  }

  test("unigram learn top-K is distributed: partial top-K, no rank window") {
    // the round-12 shape ranked EVERY distinct <=4-char substring of
    // the corpus on one reducer (Exchange SinglePartition -> Sort ->
    // Window, with the OR-filter defeating WindowGroupLimit pushdown);
    // the kept set is now top-vocabK via orderBy().limit() — planned as
    // TakeOrderedAndProject, a per-partition partial top-K — unioned
    // with the singles slice. No Window operator may reappear in the
    // learn pass (the only SinglePartition exchange left is the 1-row
    // total fold).
    val p = plan("unigram_lm_learn")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K not planned as TakeOrderedAndProject:\n$p")
    assert(!p.matches("(?s).*\\(\\d+\\) Window.*"),
      s"learn pass plans a rank window:\n$p")
    // the prune stages inherit the same discipline: each EM recount's
    // cap is a TakeOrderedAndProject too, never a global rank
    val pp = plan("unigram_lm_prune")
    assert(pp.contains("TakeOrderedAndProject"),
      s"prune cap not planned as TakeOrderedAndProject:\n$pp")
    assert(!pp.matches("(?s).*\\(\\d+\\) Window.*"),
      s"prune pass plans a rank window:\n$pp")
  }

  test("epoch shuffle audit: no single-task global rank window") {
    // the round-11 shape hashed the whole corpus onto one reducer per
    // epoch via Window.partitionBy(epoch) rank + lag; the rebuilt
    // operator uses range-partition + zipWithIndex + a position-key
    // self-join — NO window operator may reappear in this plan
    val p = plan("epoch_shuffle_audit")
    assert(!p.contains("() Window") && !p.matches("(?s).*\\(\\d+\\) Window.*"),
      s"epoch audit plans a window:\n$p")
    assert(p.contains("Join"), "adjacency self-join missing")
  }

  test("incremental dedup: rank-capped band join, no nested loop, no sort-agg") {
    val p = plan("dedup_incremental")
    assert(p.contains("WindowGroupLimit")) // history hot-bucket cap
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    assert(!p.contains("SortAggregate"))
  }

  test("scan_pushdown_audit answers from parquet footer statistics") {
    // a silent fallback to a data-page scan would still return correct
    // rows — only the plan shows whether the pushdown actually engaged
    val p = plan("scan_pushdown_audit")
    assert(p.contains("PushedAggregation"))
    assert(p.contains("COUNT(*)") && p.contains("MAX(l_quantity)"))
  }

  test("kmv sketches: the k-min rank cut plans as WindowGroupLimit") {
    // each map task keeps its local k smallest before the shuffle —
    // the property that bounds the sketch shuffle at O(groups·k)
    for (q <- Seq("sketch_kmv_distinct", "sketch_kmv_merge",
        "sketch_kmv_rolling")) {
      val p = plan(q)
      assert(p.contains("WindowGroupLimit"), q)
      assert(!p.contains("SortAggregate"), q)
    }
  }

  test("weighted sample and bloom: bounded top-k / hash-agg shapes") {
    val ws = plan("weighted_sample")
    assert(ws.contains("WindowGroupLimit")) // per-source race top-k
    val bl = plan("sketch_bloom")
    // filter build + probe are hash aggs; the only joins are the word
    // table (tiny) and 1-row stat cross joins
    assert(!bl.contains("SortAggregate"))
  }

  test("quality drift: one aggregation exchange feeds the source window") {
    val p = plan("quality_drift")
    // map-only scoring → partial agg → ONE hash exchange on the group
    // keys; the per-source window rides a second small exchange; final
    // sort. Nothing fact-sized shuffles twice.
    val exchanges = p.split("\\(\\d+\\) Exchange").length - 1
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
    assert(!p.contains("SortAggregate"))
  }

  test("top-K plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q3_revenue_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("bar analytics: all window families share ONE partition exchange") {
    val p = plan("bar_analytics")
    // exchanges: gold agg shuffle + one window shuffle + final orderBy
    val exchanges = p.split("\\(\\d+\\) Exchange").length - 1
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
    assert(p.split("\\(\\d+\\) Window").length - 1 >= 4) // 4 window ops over 1 sort
  }

  test("ANN top-k: per-partition rank limit before the shuffle") {
    val p = plan("ann_topk")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastNestedLoopJoin")) // broadcast query side
  }

  test("indicators: all three frame widths share one partition sort") {
    val p = plan("bar_indicators")
    // exchanges: gold agg shuffle + ONE window partition + final orderBy
    val exchanges = p.split("\\(\\d+\\) Exchange").length - 1
    assert(exchanges <= 3, s"expected <=3 exchanges, got $exchanges:\n$p")
  }

  test("blocked all-pairs: equi-join, NO BroadcastNestedLoopJoin") {
    // the whole point of the 1-bucket-theta decomposition: the n² pair
    // space rides a shuffled equi-join on block keys, never a broadcast
    // of a whole table with a non-equi condition
    Seq("embed_top_pairs", "dedup_embed_cosine").foreach { q =>
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a BNLJ:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian:\n$q")
    }
  }

  test("tfIdf: plan construction triggers NO driver-side job") {
    val sc = spark.sparkContext
    val docs = Tables.documents(spark, dir)
    docs.schema // force the parquet footer/schema job outside the window
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    // constructing the frame must not run anything (corpus count rides
    // the plan as a 1-row aggregate, not a separate .count() action)
    val df = graft.operators.TextAnalysis.tfIdf(docs)
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(df.schema.fieldNames.contains("tfidf"))
    assert(after == before, s"tfIdf construction ran ${after - before} job(s)")
  }

  test("embedding LSH: candidate generation is an aggregation, not a self-join") {
    val p = plan("dedup_embed_lsh")
    // posting-list expansion: one ObjectHashAggregate/HashAggregate pair
    // over (band, bkey), then equi-joins back to vectors for the verify
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Generate")) // the map-side pair explode
  }

  test("q17: per-part average joins back without a BNLJ; part is broadcast") {
    val p = plan("q17_small_qty_revenue")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin")) // the part dimension
  }

  test("salted join: equi-join on (key, salt), no nested-loop fallback") {
    val p = plan("skew_salted_join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("PQ-ADC: codebook and lookup-table joins are all broadcast") {
    val p = plan("ann_pq_adc")
    // corpus-side joins against numSub×K codebooks and the
    // query×subspace×code table must never shuffle the corpus
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q19: per-side disjunction envelopes push to BOTH parquet scans") {
    val p = plan("q19_disjunctive")
    // part scan: the full brand×size disjunction
    assert(p.contains("EqualTo(p_brand,Brand#1)"))
    assert(p.contains("EqualTo(p_brand,Brand#5)"))
    // lineitem scan: the quantity envelope of the three bands
    assert(p.contains("LessThanOrEqual(l_quantity,60.0)"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q5: six-way join plans as broadcast chain, no nested loop") {
    val p = plan("q5_local_supplier")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
    assert(p.split("BroadcastHashJoin").length - 1 >= 4)
  }

  test("repetition signals: map-only — zero exchanges in the plan") {
    val p = plan("quality_signals")
    // the ORDER BY at the query boundary is a Sort, not an aggregation
    // shuffle; no Exchange hashpartitioning anywhere
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("incremental hamming checks: history cap plans as a WindowGroupLimit rank cut") {
    // the maxBucket cap on history band buckets must push down as
    // WindowGroupLimit (top-N per bucket), not a full bucket sort
    assert(plan("media_dup_incremental").contains("WindowGroupLimit"))
    assert(plan("dedup_simhash_incremental").contains("WindowGroupLimit"))
  }

  test("scrub_pii: map-only redaction — no aggregation shuffle") {
    val p = plan("scrub_pii")
    // counts and the scrubbed-text md5 are all per-row expressions; the
    // only exchange is the output sort's range partitioning
    assert(!p.contains("Exchange hashpartitioning"))
    assert(!p.contains("HashAggregate"))
  }

  test("repetition profile: compiled in-row pass — no aggregation shuffle") {
    val p = plan("repetition_profile")
    // the compiled RepetitionProfile expression replaces the exploded
    // (doc, fam, gram) aggregation: no hash exchange and no aggregate
    // may reappear; the only exchange is the output sort's range
    // partitioning
    assert(!p.contains("Exchange hashpartitioning"))
    assert(!p.contains("HashAggregate"))
    assert(p.contains("repetition_profile"))
  }

  test("q21: plans hash semi + anti joins, never a nested loop") {
    val p = plan("q21_sole_fail_supplier")
    // the non-equi suppkey<>suppkey legs must ride as residual
    // conditions on orderkey hash joins, not degrade to BNLJ
    assert(p.contains("LeftSemi"))
    assert(p.contains("LeftAnti"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q10: top-k plans as TakeOrderedAndProject after pre-join aggregation") {
    val p = plan("q10_returned_customers")
    assert(p.contains("TakeOrderedAndProject"))
    // revenue aggregates BEFORE the customer join: the HashAggregate on
    // o_custkey must appear under the customer-side join, i.e. there is
    // an aggregate at all (pre-agg) and no global Sort node
    assert(p.contains("HashAggregate"))
  }

  test("dedup_spans: two data exchanges; span group-by reuses the island partitioning") {
    val p = plan("dedup_spans")
    // exactly three exchanges: hash by shingle (occurrence-count
    // window), hash by doc_id (island window), range for the output
    // order. The (doc_id, island) aggregation must NOT add a fourth —
    // HashPartitioning(doc_id) already satisfies its clustering.
    val exchanges = p.split("\\(\\d+\\) Exchange").length - 1
    assert(exchanges == 3, s"expected 3 exchanges, got $exchanges:\n$p")
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"))
    // only doc_id and text leave the scan
    assert(p.contains("ReadSchema") && !p.contains("source"))
  }

  test("cdc chunking: map-only chunk stream; dup audit adds only its own agg exchanges") {
    // chunk construction is one codegen'd expression per row (CdcChunks);
    // cdc_chunks adds exactly ONE hash exchange — the deliberate
    // repartition(doc_id) that materializes the chunker once so the
    // global sort's range-bounds sampling reads shuffle output instead
    // of re-running the chunker (see TextAnalysis.cdcChunks)
    val pc = plan("cdc_chunks")
    val pcExchanges = pc.split("Arguments: hashpartitioning").length - 1
    assert(pcExchanges == 1, s"expected 1 hash exchange, got $pcExchanges:\n$pc")
    // the dup audit's only hash exchanges are its own two-phase
    // countDistinct aggregation ((chunk_md5, doc_id) then chunk_md5)
    val pd = plan("cdc_dup_chunks")
    val exchanges = pd.split("Arguments: hashpartitioning").length - 1
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$pd")
    assert(!pd.contains("SortAggregate"))
  }

  test("retire family: takedown anti joins broadcast; index-served top-k stays TakeOrdered") {
    // the takedown list is tiny — the retire anti join must build on
    // the broadcast side, never shuffle the index
    val pr = plan("dedup_index_retire")
    assert(pr.contains("BroadcastHashJoin") && pr.contains("LeftAnti"),
      s"takedown anti join not broadcast:\n${pr.take(2000)}")
    assert(!pr.contains("SortMergeJoin"))
    // retired serving keeps the family's pinned top-k shape
    assert(plan("bm25_retire").contains("TakeOrderedAndProject"))
    assert(plan("bm25_passages_incremental").contains("TakeOrderedAndProject"))
    assert(plan("bm25_passages_retire").contains("TakeOrderedAndProject"))
    // span retire: the delta check stays a semi join against the
    // retired membership (no re-tokenization of history text rides the
    // serving side — the join key is the 8-byte hash)
    assert(plan("spans_retire").contains("LeftSemi"))
  }

  test("bar restatement: touched-key joins broadcast, merge stays hash-agg, history scanned once per branch") {
    val p = plan("bars_restate")
    // the delta's (symbol, bar_start) key set is tiny — both the semi
    // (touched) and anti (passthrough) joins must broadcast it, never
    // shuffle the history state
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"restate must semi+anti split history on the touched keys:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("NestedLoopJoin"))
    // state merge re-aggregates with ArgExtremum — hash agg, no sort agg
    assert(p.contains("HashAggregate") && !p.contains("SortAggregate"))
    // incremental merge too
    val pi = plan("bars_incremental")
    assert(pi.contains("HashAggregate") && !pi.contains("SortAggregate"))
  }

  test("cdc dup audit: every stage whole-stage-codegens, methods under JIT limit") {
    // BENCH_r05 drew one 35.9s outlier for cdc_dup_chunks (steady-state
    // ~2.7s); the suspected nested-HOF codegen blowup is refuted here by
    // measurement and locked in: the executed plan must contain codegen
    // stages and every generated method must stay far below the 8000-byte
    // JIT huge-method threshold (beyond which HotSpot refuses to compile
    // and the stage runs interpreted, ~10x slower).
    val df = SparkEntry.queries("cdc_dup_chunks")(spark, dir)
    df.collect() // finalize the AQE plan — codegen is inserted per stage
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val stages = org.apache.spark.sql.execution.debug.codegenStringSeq(executed)
    assert(stages.nonEmpty, "no WholeStageCodegen stages in executed plan")
    stages.foreach { case (subtree, _, stats) =>
      // ByteCodeStats.UNAVAILABLE (-1) means Janino failed to compile the
      // stage — exactly the broken-codegen case this test guards against,
      // so the sentinel must fail, not pass vacuously
      assert(stats.maxMethodCodeSize > 0,
        s"codegen compile failed (maxMethodCodeSize=${stats.maxMethodCodeSize}) in:\n" +
          subtree.linesIterator.take(4).mkString("\n"))
      assert(stats.maxMethodCodeSize < 8000,
        s"generated method ${stats.maxMethodCodeSize}B exceeds JIT limit in:\n" +
          subtree.linesIterator.take(4).mkString("\n"))
    }
  }

  test("bm25 passages: chunk fan-out still filters to query terms pre-shuffle, top-k not global sort") {
    val p = plan("bm25_passages")
    assert(p.contains("TakeOrderedAndProject"))
    // the isin(queryTerms) cut must sit below the first aggregate so
    // the chunk-exploded token stream shrinks to |Q| terms before the
    // (doc, chunk, term) shuffle
    assert(p.indexOf("spark") >= 0 && p.indexOf("HashAggregate") >= 0)
    assert(!p.contains("SortAggregate"))
  }

  test("bm25: query-term filter before the tf aggregation, top-k not global sort") {
    val p = plan("bm25_topk")
    assert(p.contains("TakeOrderedAndProject"))
    // the isin(queryTerms) filter must sit BELOW the first aggregate:
    // the exploded token stream is cut to |Q| terms before shuffling
    val filterIdx = p.indexOf("spark")
    val aggIdx = p.indexOf("HashAggregate")
    assert(filterIdx >= 0 && aggIdx >= 0)
    assert(!p.contains("SortAggregate"))
  }

  test("bars_interpolated: no unbounded-following window frame (the " +
      "O(n^2) per-row rescan shape, measured 162 s before the fix)") {
    // the forward bracket must come from the DESC-ordered RUNNING
    // frame; an ignore-nulls first() over [current, +inf) makes Spark
    // rescan to partition end per row
    val p = plan("bars_interpolated").toLowerCase
    assert(!p.contains("unboundedfollowing"))
  }

  test("ER blocking: capped equi-join passes — WindowGroupLimit cap " +
      "pushdown, hash-agg pair dedup, never a nested loop") {
    val p = plan("er_candidates")
    // the per-(key, side) cap's rank filter must push into the sort
    // as a WindowGroupLimit (per-partition partial top-cap), the
    // bipartite join is an equi-join on bkey, and the pair dedup is a
    // HashAggregate — the shapes that keep one hot blocking key from
    // exploding the shuffle at corpus scale
    assert(p.contains("WindowGroupLimit"), s"cap not pushed:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"nested loop in blocking:\n$p")
    assert(!p.contains("SortAggregate"))
    // the finer 3-pass key set inherits the same blocking shapes (its
    // only nested-loop joins are the allowlisted 1-row u-stat crosses)
    val pf = plan("er_eval_finer")
    assert(pf.contains("WindowGroupLimit"), s"finer cap not pushed:\n$pf")
    assert(!pf.contains("CartesianProduct"))
  }

  test("roc_auc rank statistic: cumulative windows partitioned by " +
      "sigma-bucket, never an unpartitioned fact-scale window") {
    // the round-13 shape ran Window.orderBy(sg) with no partitionBy —
    // one task sorts every distinct holdout score (≈ holdout size at
    // 100×). The rebuilt frame is the ks_drift parallel prefix:
    // 256-row bucket-prefix window (single-partition but parameter-
    // bounded) + within-bucket windows partitioned by bucket. The
    // frame is consumed eagerly inside rocAuc, so pin its builder.
    import spark.implicits._
    val byScore = Seq((100000000L, 3L, 1L), (900000000L, 1L, 4L))
      .toDF("sg", "pos", "neg")
    val p = graft.operators.Learn.cumRank(byScore)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // no window may order by sg without the bucket partition key
    assert(!p.contains("windowspecdefinition(sg#"),
      s"unpartitioned window over sg:\n$p")
    assert(p.contains("windowspecdefinition(bucket#"),
      s"bucket-partitioned window missing:\n$p")
    // the bucket prefix rides as a broadcast, not a shuffle join
    assert(p.contains("BroadcastHashJoin"), s"prefix not broadcast:\n$p")
  }

  test("shapley family: suffix sums run as REVERSED running frames, " +
      "never [current row, unbounded following] (O(n^2) per-row " +
      "re-aggregation; measured 198 s vs 20 s at 10x before the frame " +
      "flip). The whole-partition [unbounded, unbounded] count frame " +
      "is fine (computed once per partition).") {
    Seq("shapley_knn", "shapley_knn_trunc", "shapley_label_audit",
        "shapley_trunc_fidelity", "shapley_r_curve")
      .foreach { q =>
        val p = plan(q).toLowerCase
        assert(!p.contains("currentrow$(), unboundedfollowing"), s"$q:\n$p")
      }
  }

  test("suite-wide: nested-loop joins only where the build side is parameter-bounded") {
    // A BroadcastNestedLoopJoin over a DATA-scale side is the #1
    // silent 100 TB killer. The only ones allowed are those whose
    // broadcast side is bounded by a query PARAMETER or is a 1-row
    // aggregate: the ANN query sets (nQueries rows), the IVF centroid
    // tables (k cells), and the 1-row corpus/cap-counter cross joins.
    // q22/q15: the broadcast side is a 1-row global aggregate (the
    // in-plan scalar-subquery pattern) — bounded by construction; the
    // partsupp-derived queries carry the same 1-row supplier-count
    // broadcast inside derivedPartSupp (q11 adds the 1-row total too)
    // lm_score: the unigram model size (T, V) is a 1-row aggregate
    // cross-joined in, like tfidf's corpus count; dedup_semantic: the
    // k-means assignment broadcasts ONE packed-centroid row (kCells
    // structs) per Lloyd step; embed_hard_negatives: the broadcast side
    // is the nQueries-bounded query set, like ann_topk
    val allowed = Set("ann_topk", "ann_ivf", "ann_ivf_kmeans",
      "dedup_cap_stats", "tfidf_top_terms", "q22_idle_rich_customers",
      "q15_top_supplier", "q2_min_cost_supplier", "q9_product_profit",
      "q11_important_stock", "q16_supplier_count", "q20_excess_stock",
      "lm_score", "dedup_semantic", "embed_hard_negatives",
      // 1-row normalizer / corpus-total cross joins, same pattern
      "mixture_temperature", "mixture_reweight", "vocab_coverage",
      "index_compact_stats",
      "retire_audit",
      // packed-centroid broadcast, same as dedup_semantic
      "cluster_profile", "ann_incremental", "ivf_drift_audit", "ann_retire",
      // 1-row node-count broadcast per PageRank iteration
      "knn_pagerank",
      "ann_retrain",
      // 1-row LM-model cross join, same as lm_score
      "lm_score_bigram",
      // 1-row corpus-stats (N, avgdl) cross join, same as tfidf
      "bm25_topk", "bm25_incremental", "bm25_passages", "bm25_retire",
      "bm25_passages_incremental", "bm25_passages_retire",
      // the BM25 leg's 1-row corpus-stats cross join rides through
      "hybrid_search",
      // packed-centroid broadcast, same as dedup_semantic
      "diversity_sample", "dedup_semantic_docs",
      // parameter-bounded stats×probes overlap join (nFiles·layouts ×
      // nProbes rows) plus the 1-row bounds cross join
      "layout_zorder",
      // Inclusion checks cross-join two 1-row aggregates (n_rows ×
      // n_violations) per declared FK — bounded by construction
      "dq_audit",
      // type_a < type_b pairing of two per-GROUP aggregate tables
      // (|event types|² rows) — parameter-bounded like the ANN sets
      "sketch_kmv_overlap",
      // 1-row bounds cross joins (and the |types|×nBins grid for PSI)
      "value_drift_psi", "sketch_quantile_hist", "value_drift_incremental",
      // the |types|×9 digit grid, same pattern as PSI's bin grid
      "dq_benford",
      // the type×date×24-hour grid, same pattern
      "seasonal_anomaly",
      // 1-row bits_set / n_hist cross joins onto the probe aggregate
      "sketch_bloom",
      // 1-row n_total cross join onto the d·w-cell sketch audit
      "sketch_cms_topk", "sketch_cms_merge",
      // 1-row LM-model cross joins, same as lm_score
      "lm_score_incremental", "lm_retire", "lm_ppl_drift",
      // inherit lm_score's 1-row (T, V) model-stats cross join
      "ccnet_buckets", "quality_rank_corr",
      // |langs|-row model-header cross join (parameter-bounded like
      // the ANN query sets) + the 1-row vocab-size cross joins
      "nb_lang_confusion",
      // nQueries-bounded query-set broadcasts per truncation dim,
      // same as ann_topk
      "embed_matryoshka",
      // 1-row min/max bounds + 1-row totals cross joins; the bucket
      // prefix table is broadcast (nBuckets rows, parameter-bounded)
      "ks_drift",
      // 1-row leak-count and 1-row total cross joins
      "cv_folds",
      // two scoring passes' 1-row corpus-stats cross joins, same as
      // bm25_topk (the expansion term table itself is broadcast-hash)
      "bm25_prf",
      // per-iteration 1-row norm cross joins + the 1-row eigen/total
      // stats; the direction tables themselves are broadcast-hash
      "embed_pca_power",
      // 1-row corpus-token-total cross join onto the pair table
      "token_pmi",
      // 1-row candidate-total cross join onto the vocab-capped
      // piece inventory (the EM round re-pins costs the same way)
      "unigram_lm_learn", "unigram_lm_em",
      // the same 1-row total cross joins, once per prune stage
      "unigram_lm_prune", "unigram_prune_curve",
      // the brute-force TRUTH side is the exhaustive bipartite cross —
      // quadratic BY DEFINITION (it is the audit's ground truth, like
      // lsh_recall_audit's uncapped truth); the production path is the
      // LSH miner being audited, and a 100 TB deployment samples the
      // source side. Plus the three 1-row count cross joins.
      "bitext_recall_audit",
      // 1-row corpus-size cross joins (df gate + lift), same pattern
      "assoc_rules",
      // 1-row corpus-end cross join onto the per-user fold
      "conversion_survival",
      // 1-row doc_id-bounds cross join (the bucketed-prefix bucket key)
      "heaps_fit",
      // 1-row corpus-totals cross join onto the domain-cardinality table
      "domain_profile", "domain_profile_incremental",
      // 1-row arm-count cross join onto the |types|-row table
      "ab_test_z",
      // composes ann_topk (truth) + ann_ivf (system): both sides'
      // broadcasts are the nQueries-bounded query/centroid sets
      "retrieval_eval",
      // 1-row CMH totals cross join onto the |strata|-row table
      "ab_test_cmh",
      // 8 MM rounds x 1-row normalizer cross join onto the |types|-row
      // strength table (bt_retire adds only a broadcast-pruned
      // provenance join ahead of the same MM chain)
      "bt_strengths", "bt_incremental", "bt_retire",
      // the BM25 leg's 1-row corpus-stats cross join rides through,
      // same as hybrid_search
      "maxsim_topk", "maxsim_eval", "maxsim_retire", "maxsim_incremental",
      // |channels|+1-row removal-key replication + 1-row base/total
      // cross joins, all onto types^2-sized tables
      "attribution_markov",
      // 1-row u-probability stats cross joins (plus er_eval's 7-row
      // literal threshold theta join) — bounded by construction
      "er_match", "er_eval", "er_eval_finer", "er_entities",
      "er_incremental", "er_retire", "er_u_audit",
      // the K-row (8) selected-center broadcast fan-out — the
      // intentional assignment scan, parameter-bounded like ann_topk's
      // query set (kcenter/extend return driver-built K-row frames
      // with no join at all)
      "coreset_assign",
      // the MaxPanel-capped test-panel broadcast (parameter-bounded
      // like ann_topk's query set)
      "shapley_knn", "shapley_knn_trunc", "shapley_label_audit",
      "shapley_trunc_fidelity", "shapley_incremental", "shapley_r_curve")
    // the e2e pipelines execute real streaming hops at construction,
    // so they can't be swept here — E2ePlanLedgerSpec runs the SAME
    // gate over their executed batch subplans via a
    // QueryExecutionListener
    val names = SparkEntry.queries.keys.filterNot(SparkEntry.e2eNames)
    val offenders = names.filter { n =>
      val p = plan(n)
      (p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")) &&
        !allowed(n)
    }
    assert(offenders.isEmpty, s"data-scale nested-loop joins in: $offenders")
  }

  test("layout_zorder: ntile cuts distributed — bucket-partitioned " +
      "fact windows, never an unpartitioned fact-scale sort") {
    // the round-8..14 shape ran ntile(64).over(Window.orderBy(...))
    // over the FULL events table, once per layout — three Exchange
    // SinglePartition → Sort → Window fact scans per run. The rebuilt
    // form is the cumRank/epoch_shuffle discipline: a monotone 256-way
    // bucket key per layout, per-bucket counts folded to a ≤256-row
    // prefix table (its windows are the only unpartitioned ones left),
    // broadcast back as row-number offsets, and the exact ntile cut
    // computed from (global rn, N) in integer arithmetic.
    val p = plan("layout_zorder")
    assert(!p.contains("ntile("), s"raw ntile window resurfaced:\n$p")
    // every fact-scale row_number is partitioned by the layout bucket
    assert(p.contains("windowspecdefinition(lb#"),
      s"bucket-partitioned row_number missing:\n$p")
    assert(!p.contains("windowspecdefinition(ts#") &&
      !p.contains("windowspecdefinition(user_id#") &&
      !p.contains("windowspecdefinition(z#"),
      s"unpartitioned window over a layout sort key:\n$p")
    // the prefix tables ride as broadcasts, not shuffle joins
    assert(p.contains("BroadcastHashJoin"), s"prefix not broadcast:\n$p")
  }

  test("suite-wide: unpartitioned windows only over parameter-bounded " +
      "tables (the WindowExec single-partition ledger)") {
    // An unpartitioned Window moves EVERY row of its input to one task
    // — fine on a 256-row bucket-prefix table, fatal on a fact table
    // (layout_zorder carried exactly that shape unnoticed for six
    // rounds because its OUTPUT is tiny). This ledger is the collect()
    // ledger's sibling: every query whose plan contains Window nodes
    // with an empty partition spec must appear below with its count
    // and a bounded-size proof; exact-match both ways, so a new
    // unpartitioned window — or one silently optimized away — is a
    // conscious ledger edit, not ambient noise.
    val allowed = Map[String, Int](
      // ks_drift: the 256-fixed-bucket prefix table — two frames
      // (exclusive + inclusive) over ≤256 rows
      "ks_drift" -> 2,
      // layout_zorder: one prefix Window per layout (exclusive prefix +
      // total as two frames in one node) over the ≤257-row per-layout
      // bucket-count tables (ntileDistributed). Was 6 when the stats
      // union was referenced twice (totals + probe join); rows_total
      // now derives from the pinned withB, so the three ntile legs —
      // and their prefix windows — appear exactly once.
      "layout_zorder" -> 3,
      // heaps_fit: the ≤257-row doc_id-bucket prefix table (the
      // fact-scale cumulatives are partitioned by bucket)
      "heaps_fit" -> 1,
      // conversion_survival: risk-set suffix + cumulative-hazard prefix
      // over the t_hours life table — ≤ windowHours+1 (337) rows
      "conversion_survival" -> 2,
      // momentum_backtest: cumulative log-return over the per-DATE
      // portfolio table — calendar-bounded (≤ days in the corpus)
      "momentum_backtest" -> 1,
      // vocab_coverage: rank + cumulative share AFTER .limit(k=50)
      "vocab_coverage" -> 1,
      // dsir_select: partitionBy(lit(1)) over the B-row hash grid
      // (buckets=64); the optimizer folds the literal partition key
      // away, leaving an empty spec over a parameter-bounded table
      "dsir_select" -> 1,
      // attribution_last_touch: conversion-share normalizer over the
      // credited-type table — type-vocabulary-bounded
      "attribution_last_touch" -> 1)
    // e2e queries launch streams at construction; their executed batch
    // subplans get this same sweep in E2ePlanLedgerSpec
    val names = SparkEntry.queries.keys.filterNot(SparkEntry.e2eNames)
    val found = names.flatMap { n =>
      val c = SparkEntry.queries(n)(spark, dir).queryExecution.optimizedPlan
        .collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
        }.size
      if (c > 0) Some(n -> c) else None
    }.toMap
    val drift = (found.keySet ++ allowed.keySet)
      .filter(k => found.getOrElse(k, 0) != allowed.getOrElse(k, 0))
      .toList.sorted
      .map(k => s"$k: found ${found.getOrElse(k, 0)}, " +
        s"allowed ${allowed.getOrElse(k, 0)}")
    assert(drift.isEmpty,
      s"unpartitioned-window ledger drifted — every site needs a " +
      s"bounded-size proof here:\n  ${drift.mkString("\n  ")}")
  }
}
