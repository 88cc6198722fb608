package graft

/** Plan-shape audit (SURVEY.md §4.2): the properties that make these
  * plans survive a 100× scale-up are asserted here so a regression in
  * filter pushdown, column pruning, broadcast selection, or partial
  * aggregation fails CI — not just slows the bench.
  */
class PlanAuditSpec extends SparkSpecBase {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("filter_pred pushes predicates into the parquet scan") {
    val p = formatted("filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan") || p.contains("IsNotNull"), p)
  }

  test("proj_select prunes the read schema to selected columns") {
    val p = formatted("proj_select")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.nonEmpty)
    // lineitem has 16 columns; the projection must not read them all
    assert(!readSchema.contains("l_comment"), s"unpruned scan: $readSchema")
  }

  test("join_multiway_star broadcasts the dimension chain") {
    val p = formatted("join_multiway_star")
    assert(p.contains("BroadcastHashJoin"), "dims should broadcast")
  }

  test("q1 aggregation is two-phase (partial then final)") {
    val p = formatted("q1_pricing_summary")
    assert(p.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "expected map-side partial + final HashAggregate")
  }

  test("TPC-H composite shapes keep their scale devices in the physical plan") {
    // q3: segment dim broadcasts; both date bounds reach the scans; the
    // top-10 is a per-partition heap, not a global sort
    val q3 = formatted("q3_shipping_priority")
    assert(q3.contains("BroadcastHashJoin"), "q3: customer dim should broadcast")
    assert(q3.contains("TakeOrderedAndProject"), "q3: top-10 should be heap-based")
    assert(q3.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || q3.contains("LessThan(o_orderdate"), s"q3: order date bound not pushed\n$q3")
    // q4: EXISTS must stay a semi join (never materializing matches)
    val q4 = formatted("q4_priority_check")
    assert(q4.contains("LeftSemi"), "q4: EXISTS should plan as a semi join")
    // q15: the argmax is a 1-row max broadcast equality join, not a rank
    val q15 = formatted("q15_top_supplier")
    assert(q15.contains("BroadcastHashJoin"), "q15: max row should broadcast")
    assert(!q15.contains("Window"), "q15: argmax must not degrade to a rank window")
    // q17: per-part stats and the brand dim both broadcast back into the fact
    val q17 = formatted("q17_small_quantity")
    assert(q17.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "q17: brand dim + stats frame should both broadcast")
    // q18: a single fact scan (the textbook IN-subquery form pays two).
    // r18: the scan is the l_orderkey-bucketed lake projection (fact_ok)
    val q18 = formatted("q18_large_orders")
    assert(q18.linesIterator.count(l =>
      l.contains("Location") &&
        (l.contains("lineitem.parquet") || l.contains("fact_ok.parquet"))) == 1,
      "q18: the fact must be scanned exactly once")
    // q22: the anti join's probe side is date-pruned at the scan
    val q22 = formatted("q22_dormant_balance")
    assert(q22.contains("LeftAnti"), "q22: NOT EXISTS should plan as anti join")
    assert(q22.contains("GreaterThanOrEqual(o_orderdate"),
      s"q22: orders date bound not pushed\n$q22")
    // q6: all predicates reach the scan — the query IS its pushdown
    val q6 = formatted("q6_forecast_revenue")
    assert(q6.contains("GreaterThanOrEqual(l_shipdate") &&
      q6.contains("LessThan(l_quantity,24"), s"q6: predicates not pushed\n$q6")
    // q10: top-20 ranks on exact integer micro revenue via a heap
    val q10 = formatted("q10_returned_items")
    assert(q10.contains("TakeOrderedAndProject"), "q10: top-20 should be heap-based")
    assert(q10.contains("EqualTo(l_returnflag,R)"),
      s"q10: returnflag not pushed to the lineitem scan\n$q10")
    // q19: the separable quantity envelope must reach the fact scan even
    // though the full predicate is a disjunction across the join
    val q19 = formatted("q19_disjunctive_pricing")
    assert(q19.contains("GreaterThanOrEqual(l_quantity,1") ||
      q19.contains("l_quantity"), s"q19: quantity envelope not pushed\n$q19")
  }

  test("q12/q16 shape-adapted composites keep their plan idioms (r12 verdict ask #8)") {
    // q12: the absolute year bounds push into the lineitem scan; the
    // cross-table date window stays a join residual; BOTH priority
    // counts come out of one final aggregate (CASE pivot, not two scans)
    val q12 = formatted("q12_shipping_pivot")
    assert(q12.contains("GreaterThanOrEqual(l_shipdate") &&
      q12.contains("LessThan(l_shipdate"), s"q12: year bounds not pushed\n$q12")
    assert(q12.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem.parquet")) == 1,
      "q12: lineitem must be scanned exactly once (CASE pivot, not per-priority scans)")
    assert(q12.linesIterator.count(_.contains("HashAggregate")) >= 2,
      "q12: conditional sums must partial-aggregate map-side")
    // q16: NOT IN lowers to an ANTI join; the part dim is filtered then
    // broadcast; the fact collapses to distinct pairs before joining
    val q16 = formatted("q16_supplier_variety")
    assert(q16.contains("LeftAnti"), "q16: NOT IN should plan as an anti join")
    assert(q16.contains("BroadcastHashJoin"), "q16: filtered part dim should broadcast")
    assert(q16.contains("Not(EqualTo(p_brand") ||
      q16.contains("In(p_size"), s"q16: part predicates not pushed to the dim scan\n$q16")
  }

  test("q2/q11/q20 shape-adapted composites keep their plan idioms (round 13)") {
    // q2: the correlated min-cost subquery decorrelates to an
    // aggregate + equality join-back — never a per-part window sort;
    // dims broadcast; top-20 is heap-based
    val q2 = formatted("q2_min_cost_supplier")
    assert(!q2.contains("Window"), "q2: argmin must not degrade to a rank window")
    assert(q2.contains("TakeOrderedAndProject"), "q2: top-20 should be heap-based")
    assert(q2.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      "q2: dim chain + part filter should broadcast")
    // q11: ONE grouped pass feeds both the shares and (via a 1-row
    // broadcast) the global threshold. The per-part aggregate is
    // referenced twice, so the STATIC plan shows the subtree twice —
    // under AQE the static ReuseExchangeAndSubquery rule is skipped and
    // reuse happens at runtime (stage-level), so the single-scan
    // property must be asserted on the EXECUTED plan's ReusedExchange.
    val q11df = SparkEntry.queries("q11_important_stock")(spark, sf("sf0.001"))
    q11df.collect()
    val q11exec = q11df.queryExecution.executedPlan.toString
    assert(q11exec.contains("ReusedExchange"),
      s"q11: the grouped fact subtree must be exchange-reused, not re-scanned\n$q11exec")
    assert(formatted("q11_important_stock").contains("BroadcastNestedLoopJoin") ||
      formatted("q11_important_stock").contains("BroadcastHashJoin"),
      "q11: the 1-row total should broadcast")
    // q20: both quantity sums come from one conditional-sum aggregate
    // over one fact scan; the name pattern prunes the part dim before
    // its broadcast. r18: the fact scan is the l_partkey-bucketed lake
    // projection (fact_pk), so the location matches either source.
    val q20 = formatted("q20_concentrated_suppliers")
    assert(q20.linesIterator.count(l =>
      l.contains("Location") &&
        (l.contains("lineitem.parquet") || l.contains("fact_pk.parquet"))) == 1,
      "q20: the fact must be scanned exactly once (conditional sums, not two scans)")
    assert(q20.contains("Contains(p_name") || q20.contains("p_name"),
      s"q20: part name pattern should prune the dim scan\n$q20")
  }

  test("agg_stats_zscore broadcasts the 1-row stats side") {
    val p = formatted("agg_stats_zscore")
    assert(p.contains("Broadcast"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("join_asof is a linear window carry-forward, not a range self-join") {
    // SCALE.md's as-of claim, pinned: the plan must contain NO join at
    // all (the union + last(_, ignoreNulls) window replaces the
    // quadratic events-self-join) and the window must be partitioned on
    // user_id (per-user linear state, never a global sort)
    val p = formatted("join_asof")
    assert(!p.contains("Join"), "as-of must not join:\n" +
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // inline plan string prints the Window node with its partition spec
    // on one line (FormattedMode splits args into a details section)
    val inline = SparkEntry.queries("join_asof")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val winLines = inline.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, "carry-forward window missing")
    assert(winLines.forall(_.contains("user_id")),
      s"as-of window must partition by user_id:\n${winLines.mkString("\n")}")
  }

  test("ts_funnel stages are equi-joins on user_id over shrinking frames") {
    // three conditional min-aggregations chained by per-user equi-joins
    // (each stage's frame shrinks to users who reached it); the scale
    // hazard would be a nested-loop/cartesian fallback from the ts
    // range predicate leaking out of the residual position
    val p = formatted("ts_funnel")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "funnel stage joins must stay equi-key with the ts bound as residual")
  }

  test("join_theta_range joins on the equi key, not a nested loop") {
    val p = formatted("join_theta_range")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "theta/range join must keep its equi-key + bounded-residual form")
  }

  test("win_percent_topk has no unpartitioned window") {
    val p = formatted("win_percent_topk")
    assert(!p.contains("Window"), "threshold form should not use a window at all")
  }

  test("topk_order_limit lowers to TakeOrderedAndProject") {
    val p = formatted("topk_order_limit")
    assert(p.contains("TakeOrderedAndProject"), "ORDER BY+LIMIT must not global-sort")
  }

  test("tfidf and bm25 rank against the memoized postings cache, not re-tokenized scans") {
    // Exchange reuse can't unify the consumers' tf subtrees (each branch
    // prunes different columns), so the postings frame is persisted once
    // and every statistic branch must read the CACHE — a re-tokenize
    // regression would surface as a branch bypassing InMemoryTableScan.
    for (name <- Seq("text_tfidf", "text_bm25")) {
      val p = formatted(name)
      val cacheScans = p.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheScans >= 2,
        s"$name: expected >=2 InMemoryTableScan branches, got $cacheScans")
    }
  }

  test("round-11 curation entries: cache rides, hash-keyed span join, top-k lowering") {
    // text_gopher_rules must read the memoized termFreq cache (one
    // tokenize pass serves the whole quality layer), never re-tokenize
    val gopher = formatted("text_gopher_rules")
    assert(gopher.contains("InMemoryTableScan"),
      "gopher rules must ride the postings cache")
    // text_dedup_spans: the duplicate test is a hash-keyed aggregate +
    // join back — no cartesian/BNLJ anywhere, and the coverage window
    // partitions by doc (no global sort before the final ORDER BY)
    val spans = formatted("text_dedup_spans")
    assert(!spans.contains("CartesianProduct") &&
      !spans.contains("BroadcastNestedLoopJoin"),
      "span dedup must never pairwise-compare")
    // vec_mips_topk lowers to TakeOrderedAndProject like its cosine twin
    val mips = formatted("vec_mips_topk")
    assert(mips.contains("TakeOrderedAndProject"),
      "MIPS top-k must not materialize a global sort")
    // sample_weighted is a pure map before its summary aggregate: the
    // membership filter must sit in the scan stage (one Exchange total
    // for the per-source agg, plus the presentation sort)
    val sw = formatted("sample_weighted")
    val exchanges = """\(\d+\) Exchange""".r.findAllIn(sw).size
    assert(exchanges <= 2, s"sample_weighted should shuffle only for agg+sort:\n$sw")
  }

  test("vec_ann_ivf centroid assignment is a partial aggregation, not a window sort") {
    // r4 regression guard: the argmin over n×64 candidate rows must
    // reduce map-side (packed-long min → HashAggregate), never sort the
    // full candidate set through a per-vector window.
    val p = formatted("vec_ann_ivf")
    assert(!p.contains("Window"), "assignment must not use a window argmin")
    assert(p.contains("HashAggregate"), p)
  }

  test("text_contamination broadcasts the benchmark n-gram side") {
    // the eval-suite side is tiny by construction; the corpus side must
    // stay a map + broadcast join, never an n-gram shuffle of the lake
    val p = formatted("text_contamination")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.filter(_.contains("Join")).mkString("\n"))
  }

  test("text_repetition_filter derives from the memoized postings cache") {
    val p = formatted("text_repetition_filter")
    assert(p.contains("InMemoryTableScan"), "quality filter must reuse the postings frame")
  }

  test("contamination family reads the shared memoized gram frame, not re-tokenized scans") {
    // text_decontaminate references the gram frame twice (benchmark +
    // probe subtrees) and text_contamination twice more — r5's plan
    // tokenized+exploded the corpus ~3× per decontaminate run. All four
    // references must now hit the ONE persisted materialization.
    for (name <- Seq("text_contamination", "text_decontaminate")) {
      val p = formatted(name)
      val cacheScans = p.linesIterator.count(_.contains("InMemoryTableScan"))
      assert(cacheScans >= 2,
        s"$name: expected >=2 InMemoryTableScan branches over the gram cache, got $cacheScans")
    }
  }

  test("mixing family and semantic search ride the shared tokenized cache, not re-tokenized scans") {
    // r6 regression: mix_weights, mix_apply, and semantic_search_e2e
    // each re-tokenized the corpus (mix_apply twice: its weights
    // subtree AND its candidate rows). All of their corpus touches must
    // now be projections of the ONE persisted docTokens frame — a
    // re-tokenize regression surfaces as a branch bypassing
    // InMemoryTableScan.
    // inspect the TREE, not the explain string: FormattedMode expands
    // the cached relation's ORIGINAL child plan (which legitimately
    // names documents.parquet), so a string grep cannot distinguish
    // "rides the cache" from "re-scans the table" — live scan leaves can
    for ((name, atLeast) <- Seq(("mix_weights", 1), ("mix_apply", 2),
                                ("semantic_search_e2e", 2),
                                // lexical side rides termFreq/docTokens;
                                // its only table read is embeddings
                                ("hybrid_search_rrf", 2))) {
      val leaves = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.sparkPlan.collectLeaves()
      val cacheScans = leaves.count(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      assert(cacheScans >= atLeast,
        s"$name: expected >=$atLeast InMemoryTableScan leaves over docTokens, got $cacheScans")
      val liveDocScans = leaves.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
      }
      assert(liveDocScans.isEmpty,
        s"$name: plan scans the documents table instead of riding the cache")
    }
  }

  test("rank-filter plans get Spark's WindowGroupLimit (per-group partial top-k)") {
    // InferWindowGroupLimit rewrites row_number()<=k filters into a
    // map-side per-group limit BEFORE the window sort — the built-in
    // form of the top-k-per-group operator (no custom exec needed; this
    // pins the pattern so a future query-shape change that breaks the
    // inference fails CI instead of silently re-sorting full groups).
    for (name <- Seq("win_row_number_topn", "vec_knn_join", "vec_knn_join_lsh",
                     "dedup_exact", "vec_index_incremental", "sample_stratified",
                     "text_keyword_extract")) {
      val p = formatted(name)
      assert(p.contains("WindowGroupLimit"),
        s"$name: rank filter no longer lowers to WindowGroupLimit")
    }
  }

  test("agg_weighted_median / agg_gini: two-level bucket prefix-sum (no single-group window)") {
    // the r13 #1 lake dial, wired in r14: the row-level cumulative
    // window must be (group, bucket)-keyed — a fat returnflag/source
    // partition splits across the 16 range buckets instead of sorting
    // through one task — and NO window may be unpartitioned (the
    // prefix-offset window is group-keyed over the group×16 totals)
    import org.apache.spark.sql.catalyst.plans.logical
    for (name <- Seq("agg_weighted_median", "agg_gini")) {
      val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
      val wins = df.queryExecution.optimizedPlan.collect { case w: logical.Window => w }
      assert(wins.nonEmpty, s"$name: expected windows in the plan")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        s"$name: unpartitioned window crept back")
      assert(wins.exists(_.partitionSpec.size >= 2),
        s"$name: no (group, bucket)-partitioned window — the single-window " +
          "shape (one task per group at lake scale) crept back")
    }
  }

  test("dq_check fuses the column checks into one scan and broadcasts the FK dims") {
    val p = formatted("dq_check")
    // exactly TWO lineitem scans: the fused five-check conditional
    // aggregate (one pass, never one scan per check) + the fact→fact
    // FK anti-join probe side
    val liScans = p.linesIterator.count(_.contains("lineitem.parquet"))
    assert(liScans == 2, s"expected 2 lineitem scans, got $liScans:\n$p")
    // both referential-integrity checks plan as broadcast anti-joins
    assert(p.linesIterator.count(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")) == 2,
      "FK checks should be broadcast anti-joins at gate SF")
  }

  test("text_dedup_cross_source aggregates per-gram source sets on ONE exchange; top-20 lowers to TakeOrdered") {
    val p = formatted("text_dedup_cross_source")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not materialize a global sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "pair expansion must stay join-free / equi-keyed")
    // the entry consumes the ONE materialized pass (r14: the corpus-
    // sized aggregate is localCheckpointed so the gram pipeline runs
    // once, not once per totals branch) — the final plan reads the
    // checkpoint, never a re-tokenized scan
    assert(p.contains("ExistingRDD") && !p.contains("Scan parquet"),
      "final plan must read the single materialized aggregate:\n" + p)
    // the materialized pass itself (optimization round rewrite): NO
    // join at all — the per-gram source-set aggregate owns the ONE
    // corpus-sized gram-keyed exchange (the old distinct+self-join
    // shape paid three), and the sorted-set pair expansion feeds the
    // sources²-sized count
    val agg = graft.queries.TextOps.crossSourceAgg(spark, sf("sf0.001"))
    val ap = agg.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!ap.contains("Join"), "gram pass must be join-free:\n" + ap)
    // count exchanges in the query's OWN operator tree — the memoized
    // docTokens InMemoryRelation prints its cached plan (with its own
    // repartition exchange) below the InMemoryTableScan line, and the
    // per-operator detail sections repeat each node name
    val ownTree = ap.linesIterator
      .takeWhile(l => !l.contains("InMemoryRelation")).toSeq
    // r18 mask form: gram-keyed bit_or [the one corpus-sized exchange]
    // → mask-keyed collapse [≤ distinct-masks rows] → sources²-sized
    // pair count — three exchanges, the last two post-collapse tiny;
    // ≤ 63 sources guaranteed by the dictionary branch
    assert(ownTree.count(_.matches(".*[+:]- Exchange .*")) == 3,
      "exactly three exchanges: gram-keyed bit_or, mask collapse, " +
        "sources²-sized pair count:\n" + ap)
    assert(ownTree.count(_.contains("HashAggregate")) >= 4, ap)
    assert(!ownTree.exists(_.contains("ObjectHashAggregate")),
      "the corpus-sized aggregate must stay codegen (bit_or):\n" + ap)
  }

  test("ts_downsample_lttb is join-free and every window is keyed by the series") {
    val p = formatted("ts_downsample_lttb")
    assert(!p.contains("Join"), "LTTB must not join:\n" + p)
    val inline = SparkEntry.queries("ts_downsample_lttb")(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString
    val winLines = inline.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty, "neighbor/rank windows missing")
    assert(winLines.forall(_.contains("event_type")),
      "unkeyed window (single-partition sort):\n" + winLines.mkString("\n"))
  }

  test("no query plan contains a cartesian product or an unpartitioned window") {
    // Sweep every declared query. Exceptions are intentional 1-row or
    // bounded-small broadcast sides (threshold scalars, knn query rows,
    // dimension cross products) — BNLJ with a 1-row broadcast is O(n).
    val bnljAllowed = Set(
      // vec_mips_topk: same deliberate 1-row query-vector broadcast as
      // vec_knn_topk (O(n) scan, TakeOrderedAndProject pinned above)
      "vec_knn_topk", "vec_mips_topk", "vec_knn_join", "vec_cosine_pairs", "vec_ann_ivf",
      // vec_hard_negatives: the guarded exact cross-label anchor —
      // same bounded-anchor broadcast BNLJ as vec_knn_join
      "vec_hard_negatives",
      "semantic_search_e2e", "win_percent_topk", "agg_stats_zscore",
      "join_cross", "join_theta_range", "sql_entry", "sim_index_build",
      "vec_index_build", "text_tfidf", "text_bm25", "mix_weights",
      // mix_apply / mix_weights_incremental: same deliberate 1-row
      // (total, ns) stats broadcast as mix_weights, feeding the
      // per-source keep probabilities / merged weights
      "mix_apply", "mix_weights_incremental",
      // mix_temperature: the same 1-row totals broadcasts as
      // mix_weights (corpus total, then the quantized-weight sum)
      "mix_temperature",
      // curate_corpus_e2e / pipeline_report compose mix_weights' stats
      // broadcast and pack_sequences' bucket-offset window (both
      // already allowed)
      "curate_corpus_e2e", "pipeline_report",
      // IVF family: 1-row query / K=64 centroid broadcast sides
      "ivf_index_build", "ivf_index_probe", "ivf_index_incremental",
      // PQ family: 1-row corpus-count / 1-row ADC-table broadcasts
      "pq_index_build", "pq_index_probe", "ivfpq_index_probe",
      // hybrid_search_rrf: the same 1-row query-vector and 1-row
      // corpus-stats broadcasts as vec_knn_topk / text_bm25
      "hybrid_search_rrf",
      // zorder_cluster: 1-row min/max key-extent broadcast feeding the
      // range-bucketing divisors
      "zorder_cluster",
      // embed family: the same deliberate 1-row broadcasts — the
      // pair-total T in PPMI training (text_embed_learned and the
      // search entry both train through it) and the 1-row query-norm
      // side of the cosine ranking
      "text_embed_learned", "text_embed_learned_incremental",
      "semantic_search_learned",
      // curate_token_budget: the 1-row token-budget broadcast feeding
      // the bucket cut — same shape as mix_weights' stats row
      "curate_token_budget",
      // agg_heavy_hitters: the 1-row corpus-total broadcast feeding the
      // n/64 threshold filter (candidate join itself is a BHJ semi)
      "agg_heavy_hitters",
      // agg_histogram: the 1-row min/max range broadcast feeding the
      // map-side bucket assignment — same shape as agg_stats_zscore
      "agg_histogram",
      // profile_drift: two 1-row broadcasts (the span midpoint, then
      // the half totals) feeding map-side conditional sums — same
      // shape as agg_histogram's range row
      "profile_drift",
      // dq_freshness: the 1-row global-max "now" broadcast — same shape
      "dq_freshness",
      // text_keyword_extract: the same 1-row corpus-count broadcast as
      // text_tfidf (it scores with the identical tf·idf formula)
      "text_keyword_extract",
      // graph_pagerank / assoc_rules: 1-row node-count / user-count
      // broadcasts feeding the integer teleport term and lift
      // denominators — same shape as mix_weights' stats row
      "graph_pagerank", "assoc_rules",
      // win_ntile_global: 1-row split-point / total-count broadcasts
      // feeding the range bucketing and the rank formula
      "win_ntile_global",
      // agg_weighted_median / agg_gini: the same deliberate 1-row
      // approximate-split-point broadcast as win_ntile_global (the
      // round-14 two-level bucket prefix-sum rewrite — r13 ask #1)
      "agg_weighted_median", "agg_gini",
      // sample_balanced: the 1-row minority-class-count broadcast
      // feeding the per-class rank cut — same shape as
      // win_percent_topk's threshold row
      "sample_balanced",
      // ts_decompose: the 1-row weekly-profile center broadcast (the
      // re-centering constant g) — same shape as mix_weights' stats row
      "ts_decompose",
      // q22_dormant_balance: the 1-row average-balance broadcast (the
      // scalar AVG subquery) feeding the threshold filter
      "q22_dormant_balance",
      // q11_important_stock: the 1-row grand-total broadcast (the Q11
      // global-fraction threshold) against the reused per-part frame
      "q11_important_stock",
      // ts_decompose_anomaly: three 1-row broadcasts (the seasonal
      // center, the residual median, the MAD) — the ts_decompose shape
      // plus the robust-stats rows
      "ts_decompose_anomaly")
    // Unpartitioned windows sort their whole input on ONE task — the
    // single-partition pathology. The old check grepped the physical
    // plan text for "partitionBy=[]", a string Spark 4 never prints
    // (TreeNode.argString omits empty sequences), so it asserted
    // nothing (round-6 review finding); the logical Window node's
    // partitionSpec is the API-stable signal.
    val unpartWinAllowed = Set(
      // pack_sequences: the cumulative-bucket-offset window runs over
      // the BUCKET TOTALS frame (one row per 1000 docs), not the
      // corpus — the two-level prefix-sum design; its doc-level window
      // is bucket-partitioned (asserted in OperatorSpec)
      "pack_sequences",
      // curate_corpus_e2e: same two-level prefix sum — its only
      // unpartitioned window runs over the bucket-totals frame
      "curate_corpus_e2e",
      // hybrid_search_rrf: rank windows run over the two BOUNDED
      // top-L candidate lists (TakeOrderedAndProject feeds them),
      // never the corpus
      "hybrid_search_rrf",
      // curate_token_budget: its unpartitioned running sum is over the
      // quality-BUCKET totals frame (≤10⁴ rows — quality is 4dp in
      // [0,1]); the doc-level window is bucket-partitioned
      "curate_token_budget",
      // win_ntile_global: the prefix-offset window runs over the
      // 16-row range-bucket totals; the row-level rank window is
      // bucket-partitioned — the pack_sequences two-level shape
      "win_ntile_global",
      // ts_decompose / ts_decompose_anomaly: the moving-average window
      // runs over the DAY frame (|days| rows after the first hash-agg,
      // bounded by the calendar span, not event volume)
      "ts_decompose", "ts_decompose_anomaly")
    // Round-12 fourth check (unpruned scan of a partitioned source):
    // ivf_index_build's declared output is the per-cell summary of the
    // cells table it JUST wrote — a deliberate, build-owned full pass
    // (the probe/serving entries prune via DPP and are NOT exempt).
    val unprunedScanAllowed = Set("ivf_index_build")
    // Round-14 sixth check (unbounded-buffer aggregates): every hit
    // reviewed — each is either an ORACLE-GRADE exact entry (the
    // declared small-SF anchor its bounded sibling verifies against)
    // or a buffer bounded by construction:
    val unboundedBufAllowed = Set(
      // exact quantile oracle anchors; agg_percentile_approx is the
      // bounded sibling, and the ts_* stats passes carry the
      // spark.graft.quantile.approx dial (pinned below: dial ON makes
      // these pass UNallowlisted)
      "agg_median", "agg_percentile", "win_percent_topk",
      "ts_anomaly_mad", "ts_outlier_iqr",
      // ts_decompose_anomaly: median/MAD over the DAY-grain residual
      // frame — bounded by the calendar span, not event volume (its
      // own scale note); no dial needed
      "ts_decompose_anomaly",
      // listagg IS the collect operator — its contract is the buffer;
      // groups here are flag-cardinality by construction
      "agg_listagg",
      // PQ ADC tables: collect over (query, subspace) groups of exactly
      // K=16 rows — bounded by the codebook, not the corpus
      "pq_index_probe", "ivfpq_index_probe",
      // per-DOCUMENT signature buffers (shingle set, simhash votes,
      // Holt state seed): bounded by one row's text, never by group
      // cardinality across rows
      "text_dedup_shingle", "text_simhash_dedup", "ts_holt_linear")
    // the fleet-wide sweep IS the engine's user-facing preflight gate
    // (plans.PlanGuard) — the suite exercises the same code users call
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val allow = (if (bnljAllowed(name)) Set("bnlj") else Set.empty[String]) ++
        (if (unpartWinAllowed(name)) Set("unpartitioned-window") else Set.empty[String]) ++
        (if (unprunedScanAllowed(name)) Set("unpruned-partitioned-scan") else Set.empty[String]) ++
        (if (unboundedBufAllowed(name)) Set("unbounded-buffer-agg") else Set.empty[String])
      val v = graft.plans.PlanGuard.audit(
        SparkEntry.queries(name)(spark, sf("sf0.001")), allow)
      if (v.nonEmpty) Some(s"$name: ${v.mkString("; ")}") else None
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // the quantile DIAL is the in-engine escape hatch the check points
    // at: with spark.graft.quantile.approx on, the ts_* stats passes
    // plan approx_percentile and pass check #6 with NO allowlist —
    // pinning that the allowlist above covers the oracle-grade default,
    // not a missing implementation
    spark.conf.set("spark.graft.quantile.approx", "true")
    try {
      for (name <- Seq("ts_anomaly_mad", "ts_outlier_iqr")) {
        val v = graft.plans.PlanGuard.audit(
          SparkEntry.queries(name)(spark, sf("sf0.001")),
          allow = Set("bnlj", "unpartitioned-window"))
        assert(v.forall(_.kind != "unbounded-buffer-agg"),
          s"$name under the approx dial: ${v.mkString("; ")}")
      }
    } finally spark.conf.unset("spark.graft.quantile.approx")
  }

  test("join_scd2_pointintime: entity-key broadcast hash join, validity range as residual") {
    val p = formatted("join_scd2_pointintime")
    // the temporal predicate must ride the equi join as a residual, not
    // degrade the plan to a nested-loop over facts × versions
    assert(p.contains("BroadcastHashJoin"), "dim versions should broadcast onto the fact scan")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("vec_quantize_int8: pruned scan, map-only quantization (no mid-plan shuffle)") {
    val p = formatted("vec_quantize_int8")
    val rs = p.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!rs.contains("label"), s"label column should be pruned from the scan: $rs")
    // quantization itself is a pure projection; the only exchange allowed
    // is the final presentation sort's range partitioning (formatted mode
    // prints each node twice — tree line + detail header — so count node
    // ids, not substring hits)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).size <= 1, p)
  }

  test("agg_heavy_hitters: exact-confirm pass is a broadcast semi join on the candidate set") {
    val p = formatted("agg_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "candidates (≤k rows) must broadcast and semi-filter the token stream map-side")
  }

  test("round-11 analytics entries: cache rides, broadcasts, top-k lowering") {
    // text_boilerplate_ngrams / text_entropy must ride the shared
    // tokenized frame (no live documents scan), and the boilerplate
    // top-20 must lower to TakeOrderedAndProject, not a global sort.
    for ((name, atLeast) <- Seq(("text_boilerplate_ngrams", 1), ("text_entropy", 1))) {
      val leaves = SparkEntry.queries(name)(spark, sf("sf0.001"))
        .queryExecution.sparkPlan.collectLeaves()
      val cacheScans = leaves.count(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec])
      assert(cacheScans >= atLeast,
        s"$name: expected >=$atLeast InMemoryTableScan leaves over docTokens, got $cacheScans")
      val liveDocScans = leaves.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths.exists(_.toString.contains("documents")) => f
      }
      assert(liveDocScans.isEmpty,
        s"$name: plan scans the documents table instead of riding the cache")
    }
    assert(formatted("text_boilerplate_ngrams").contains("TakeOrderedAndProject"),
      "boilerplate top-20 must be TakeOrderedAndProject")
    // vec_centroid_stats: the per-label count side broadcasts back onto
    // the vocab... label-keyed aggregate — never a shuffle join
    assert(formatted("vec_centroid_stats").contains("BroadcastHashJoin"),
      "per-label counts must broadcast")
    // ts_changepoint_cusum: the per-user mean broadcasts, and the event
    // stream shuffles ONCE on user_id (both windows + the argmax rank
    // reuse the same partitioning; the only other exchanges are the
    // broadcast and the final presentation sort)
    val cusum = formatted("ts_changepoint_cusum")
    assert(cusum.contains("BroadcastHashJoin"), "mu side must broadcast")
    val hashExchanges = """\(\d+\) Exchange hashpartitioning""".r
      .findAllIn(cusum).size
    assert(hashExchanges <= 2,
      s"cusum should shuffle the event stream at most twice (agg + window), got $hashExchanges:\n$cusum")
  }

  test("every declared query output is driver-hashable (scalar columns only)") {
    // The verify dump is sorted/hashed column-wise in pandas
    // driver-side, and an array/map/struct cell is unhashable there
    // (round-10's text_embed_hash ERR: `TypeError: unhashable type:
    // 'numpy.ndarray'`). Complex payloads must be serialized to scalar
    // digest columns in the DECLARED entry; the array-valued frames
    // remain the programmatic surface.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      SparkEntry.queries(name)(spark, sf("sf0.001")).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  /** Full plan text INCLUDING cached subtrees: formatted explain prints
    * InMemoryRelation as a leaf, but the verify-join shape under audit
    * lives inside verifiedSets' persisted frame — collect cachedPlans
    * and append them.
    */
  private def planWithCached(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    val exec = df.queryExecution.executedPlan
    val cached = exec.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan.toString
    }
    (df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode) +: cached).mkString("\n")
  }

  test("set-dictionary broadcast hints are size-guarded: hinted at gate SF, shuffle joins above the dial") {
    // The verify stage of the MinHash/shingle dedup family meets its
    // set dictionary through broadcast() hints. An explicit hint
    // OVERRIDES autoBroadcastJoinThreshold — so at lake scale it would
    // fail at the 8 GB ceiling, not revert. Core.guardedBroadcast drops
    // the hint above spark.graft.broadcast.maxRows; this pins BOTH
    // shapes. autoBroadcastJoinThreshold=-1 throughout so Spark's own
    // size estimate never broadcasts: any BroadcastHashJoin seen in the
    // hinted half is the hint's doing, and its disappearance in the
    // dial=0 half proves the hint (not the estimate) was dropped.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.unset("spark.graft.broadcast.maxRows") // default: hinted
      val hintedShingle = planWithCached("text_dedup_shingle")
      assert(hintedShingle.contains("BroadcastHashJoin"),
        "shingle verify: dictionary should broadcast at gate SF (hint present)")
      val hintedNear = planWithCached("text_dedup_near")
      assert(hintedNear.contains("BroadcastHashJoin"),
        "verifiedSets: dictionary should broadcast at gate SF (hint present)")

      spark.conf.set("spark.graft.broadcast.maxRows", "0") // above the dial
      val smjShingle = planWithCached("text_dedup_shingle")
      assert(!smjShingle.contains("BroadcastHashJoin") &&
             smjShingle.contains("SortMergeJoin"),
        "shingle verify: above the dial the hint must drop (shuffle join)")
      // the BYTE dial alone must also drop the hint (r16 review: a row
      // bound is blind to payload width — the guard is two-dial)
      spark.conf.unset("spark.graft.broadcast.maxRows")
      spark.conf.set("spark.graft.guard.maxBroadcastBytes", "0")
      val smjBytes = planWithCached("text_dedup_shingle")
      assert(!smjBytes.contains("BroadcastHashJoin") &&
             smjBytes.contains("SortMergeJoin"),
        "shingle verify: above the BYTE dial the hint must drop too")
      spark.conf.unset("spark.graft.guard.maxBroadcastBytes")
      spark.conf.set("spark.graft.broadcast.maxRows", "0")
      val smjNear = planWithCached("text_dedup_near")
      assert(smjNear.contains("SortMergeJoin"),
        "verifiedSets: above the dial the hint must drop (shuffle join)")

      // and the reverted shape is CORRECT, not just planned: identical
      // rows from both forms at gate SF
      val smjRows = SparkEntry.queries("text_dedup_shingle")(spark, sf("sf0.001"))
        .collect().map(_.toString).sorted.toSeq
      spark.conf.unset("spark.graft.broadcast.maxRows")
      val hintedRows = SparkEntry.queries("text_dedup_shingle")(spark, sf("sf0.001"))
        .collect().map(_.toString).sorted.toSeq
      assert(smjRows == hintedRows, "shuffle-join form must match hinted form")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.unset("spark.graft.broadcast.maxRows")
      spark.conf.unset("spark.graft.guard.maxBroadcastBytes")
    }
  }

  test("broadcastStats derives the guard's byte bound from the actual schema") {
    // r16 ADVICE (low): the vec-index guard sites used hard-coded
    // per-row literals (32 B id pairs, 600 B 64-double rows) — a row
    // shape change would silently under-estimate past the byte dial.
    // Core.broadcastStats must track the real shape: arrays measured
    // (8 B/element), fixed-width from the schema.
    import spark.implicits._
    val idPairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val (n1, b1) = graft.Core.broadcastStats(idPairs)
    assert(n1 == 2 && b1 >= 2 * 16 && b1 <= 2 * 64,
      s"id-pair bound out of band: $b1")
    val emb = Seq((1L, Array.fill(64)(0.5)), (2L, Array.fill(64)(0.5)))
      .toDF("id", "emb")
    val (n2, b2) = graft.Core.broadcastStats(emb)
    // 64 doubles = 512 B/row measured — the bound must scale WITH the
    // array payload (the old 600 B literal assumed exactly this width)
    assert(n2 == 2 && b2 >= 2 * 512, s"array payload not measured: $b2")
    val wide = Seq((1L, Array.fill(256)(0.5))).toDF("id", "emb")
    val (_, b3) = graft.Core.broadcastStats(wide)
    assert(b3 >= 256 * 8, s"a 4x wider row must grow the bound 4x: $b3")
  }

  test("vec_index_incremental candidate/batch broadcasts are size-guarded") {
    // The candidate pairs and the batch's query rows are broadcast by
    // hint (the plan broadcasts them with autoBroadcastJoinThreshold
    // off); both are driver-held, so past the broadcast dials the batch
    // entries refuse, naming both dials, instead of collecting an
    // unbounded batch. A single query's keys fit any dial, but its
    // candidates (16 band rows of doc 0's own set; vector 0 in its 4
    // bands plus its ring) do not fit 2 rows: the serving entries refuse
    // at the candidate bound before anything is broadcast.
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.unset("spark.graft.broadcast.maxRows")
      val hinted = formatted("vec_index_incremental")
      assert(hinted.contains("BroadcastHashJoin"),
        "candidate + key-row sides should broadcast (hints present)")
      assert(!hinted.contains("SortMergeJoin"), hinted)
      spark.conf.set("spark.graft.broadcast.maxRows", "2")
      for (e <- Seq("sim_index_incremental", "vec_index_incremental",
                    "sim_index_probe", "vec_index_probe")) {
        val msg = intercept[IllegalArgumentException](formatted(e)).getMessage
        for (key <- Seq("spark.graft.broadcast.maxRows=2", "spark.graft.guard.maxBroadcastBytes"))
          assert(msg.contains(key), s"$e: the refusal must name $key: $msg")
        if (e.endsWith("_probe"))
          assert(msg.contains("band candidates"), s"$e: the candidates must be refused: $msg")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
      spark.conf.unset("spark.graft.broadcast.maxRows")
    }
  }
}
