package graft

/** Physical-plan shape assertions (SURVEY §4) — the 100 TB design intent,
  * checked on real plans so regressions in pushdown/broadcast/top-k strategy
  * fail the build, not the cluster.
  */
class PlanShapeSpec extends SparkSuite {

  private def plan(name: String): String =
    run(name).queryExecution.executedPlan.toString

  test("q_scan_project prunes to a 2-column ReadSchema") {
    val p = plan("q_scan_project")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"), p)
  }

  test("q_filter_pred pushes predicates to the parquet scan") {
    val p = plan("q_filter_pred")
    // plan toString truncates the PushedFilters list — match the prefix
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("q_join_broadcast uses BroadcastHashJoin") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"), plan("q_join_broadcast"))
  }

  test("q_join_semi plans a semi join, q_join_anti an anti join") {
    assert(plan("q_join_semi").contains("LeftSemi"), plan("q_join_semi"))
    assert(plan("q_join_anti").contains("LeftAnti"), plan("q_join_anti"))
  }

  test("q_sort_multi and q_topk_global avoid a global sort (TakeOrderedAndProject)") {
    assert(plan("q_sort_multi").contains("TakeOrderedAndProject"), plan("q_sort_multi"))
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"), plan("q_topk_global"))
  }

  test("q_agg_tpch_q1 uses two-phase hash aggregation") {
    val p = plan("q_agg_tpch_q1")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final
  }

  test("q_vec_pair_sim computes pairs per-block (no pair-materializing join)") {
    val p = plan("q_vec_pair_sim")
    // one collect_list agg per block + the in-place TopPairsWithin loop:
    // a join here would mean the query went back to copying every candidate
    // pair's embeddings through UnsafeRows (the measured 1.1 s regression)
    assert(p.contains("graft_top_pairs"), p)
    assert(!p.contains("Join"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // global top-20, no sort
  }

  test("q_exists_correlated decorrelates to semi + anti joins") {
    val p = plan("q_exists_correlated")
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
  }

  test("q_source_partitioned prunes partitions on the lang predicate") {
    val p = plan("q_source_partitioned")
    assert(p.contains("PartitionFilters"), p)
    assert(p.contains("lang"), p)
  }

  test("q_join_bucketed (contract query's own builder) runs with no Exchange in the plan") {
    // docs/SCALE.md's storage-layout claim, pinned on the SAME join+agg the
    // gated q_join_bucketed ships: writing both fact tables bucketed+sorted
    // on the join key makes the join (and the follow-on aggregation on that
    // key) shuffle-free AND sort-free. Broadcast is disabled so the test
    // proves bucketing, not small-table broadcast; at sf0.001 either side
    // would otherwise be broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = graft.sources.BucketedLayout.joinAgg(spark, sf)
      j.collect() // finalize the (possibly adaptive) plan before inspecting
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q_win_rownum_dense single-partitions only aggregated (distinct-key) relations") {
    // The round-2 contract shipped a bare dense_rank() OVER (ORDER BY …) here —
    // a plan that funnels every fact row into one partition. The GlobalRank
    // rewrite keeps a single-partition exchange ONLY under the distinct-keys
    // window (a handful of rows at any scale); the fact table itself must
    // never feed one. AQE off for a stable, directly walkable plan.
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = run("q_win_rownum_dense").queryExecution.executedPlan
      val globals = plan.collect {
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
      }
      // the tiny ranks relation legitimately goes global — but anything that
      // does must sit above a distinct aggregation, proving it is the shrunken
      // key relation and not the fact scan
      assert(globals.nonEmpty, plan.toString)
      globals.foreach { e =>
        assert(e.collect { case a: BaseAggregateExec => a }.nonEmpty,
          s"single-partition exchange over a non-aggregated (fact-sized) input:\n$plan")
      }
      assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("whole-stage codegen is active for the flagship") {
    // AQE prints codegen stages ("*(n)" prefixes) only once the final plan is
    // materialized — execute, then inspect.
    val df = run("q_agg_tpch_q1")
    df.collect() // count() would plan a separate execution; collect finalizes THIS one
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), p)
  }

  test("round-7 curation kernels shuffle nothing but the rollup") {
    // TokenStats/shingle kernels: no Generate (no explode), exactly one
    // shuffle exchange (the per-language hash rollup)
    Seq("q_text_repetition", "q_text_top_bigram").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Generate"), s"$q explodes:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, s"$q extra shuffles:\n$p")
    }
  }

  test("q_text_keywords tokenizes once and ranks over the vocabulary relation") {
    val p = plan("q_text_keywords")
    assert("(?m)^.*Generate".r.findAllIn(p).size == 1, p)
    assert(!p.contains("ReusedExchange"), p)
  }

  test("q_graph_pagerank iterations broadcast the node relation, never shuffle edges") {
    val p = plan("q_graph_pagerank")
    // iteration 1 is constant-folded (uniform pr0 ⇒ a pure map over the edge
    // artifact); iterations 2 and 3 broadcast the (node, pr) relation —
    // exactly two broadcast joins, never more (an extra one would mean the
    // fold regressed), and never an edge-side shuffle join
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the write-once edge artifact appears as a cached scan of its parquet
    // table, not a live orders⋈lineitem join
    assert(p.contains("InMemoryTableScan"), p)
    assert(!p.contains("lineitem"), p)
  }

  test("as-of joins (both directions) are single-window plans, no join operator") {
    Seq("q_ts_asof_join", "q_ts_asof_forward").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Join"), s"$q joins instead of the union-window shape:\n$p")
      assert(p.contains("Window"), s"$q lost the window:\n$p")
    }
  }

  test("q_multimodal_dedup ships hashes, never payload bytes, through the exchange") {
    val p = plan("q_multimodal_dedup")
    // the first exchange's output schema must not contain the payload column
    val ex = p.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(ex.nonEmpty && ex.forall(!_.contains("payload")), p)
  }

  test("q_join_band plans an equi join on the bucket key, never a nested loop") {
    val p = plan("q_join_band")
    assert(!p.contains("NestedLoop"),
      s"band predicate fell through to a nested-loop join:\n$p")
    // the 3-bucket expansion is the Generate; the join must hash on it
    assert(p.contains("Generate explode"), p)
  }

  test("q_join_salted exchanges the skewed fact on (k, salt), never broadcast") {
    val p = plan("q_join_salted")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // the fact-side exchange must hash on BOTH the key and the salt — that
    // spread of the hot key across 16 reducers is the whole technique
    val factEx = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("salt")).toSeq
    assert(factEx.size >= 2, s"expected both join sides keyed by (k, salt):\n$p")
  }

  test("q_text_boilerplate scans the corpus once — window df, no self-join") {
    val p = plan("q_text_boilerplate")
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"boilerplate scans the corpus $scans times:\n$p")
    assert(!p.contains("BroadcastExchange"),
      s"boilerplate broadcasts a corpus-sized relation:\n$p")
  }

  test("q_ts_rolling_distinct is join-free: sweep-line deltas, no range join") {
    val p = plan("q_ts_rolling_distinct")
    assert(!p.contains("NestedLoop"),
      s"rolling distinct fell through to the quadratic range-join plan:\n$p")
    // the island/probe emission replaced every join (the old shape
    // re-derived the hour domain and hash-joined it back): one generate,
    // one keyed aggregation, one tiny boundary-relation window
    assert(!p.contains("Join"), s"sweep-line shape regressed to a join:\n$p")
    assert(p.contains("Generate explode"), p)
    assert("Exchange hashpartitioning\\(hr_id".r.findAllIn(p).size == 1, p)
  }

  test("q_join_interval_overlap equi-joins on the bucket key, never a nested loop") {
    val p = plan("q_join_interval_overlap")
    assert(!p.contains("NestedLoop"),
      s"overlap predicate fell through to a nested-loop join:\n$p")
    assert(p.contains("_bkt"), p) // join keyed by the quantized bucket
  }

  test("q_merge_upsert full-outer sort-merges on the key — broadcast is impossible") {
    val p = plan("q_merge_upsert")
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("q_pareto_frontier broadcasts the 50-row frontier, pre-aggregates per level") {
    val p = plan("q_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, p) // partial + final per-x max
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("q_view_maintenance pushes both cutoff filters to the parquet scans") {
    val p = plan("q_view_maintenance")
    assert(p.contains("LessThan(l_shipdate"), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), p)
  }

  test("q_scd2_intervals is one hash exchange on the business key") {
    val p = plan("q_scd2_intervals")
    assert(p.contains("Window"), p)
    assert(p.contains("hashpartitioning(o_custkey"), p)
  }

  test("q_hist_equidepth never plans a single-partition Window over the fact grain") {
    val p = plan("q_hist_equidepth")
    // banded global rank: every window over the fact relation partitions on
    // the price band (the tiny band-grain offsets window is the only
    // partition-less one)
    assert("windowspecdefinition\\((?!__band)".r.findFirstIn(p).isEmpty,
      s"equi-depth fell back to a global window:\n$p")
    assert(p.contains("BroadcastHashJoin"), p) // band-offset + count joins
  }

  test("q_seq_trigram: one user-keyed window, distributed top-10") {
    val p = plan("q_seq_trigram")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("hashpartitioning(user_id"), p)
  }

  test("q_geo_zorder is join-free map-side arithmetic + one aggregation") {
    val p = plan("q_geo_zorder")
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
  }

  test("q_join_bloom prunes the fact scan before the exact broadcast join") {
    val p = plan("q_join_bloom")
    assert(p.contains("BroadcastHashJoin"), p)
    // the literal-bitset membership check is a Filter directly over the scan,
    // upstream of the join — no fact row shuffles before pruning
    assert(!p.contains("Exchange hashpartitioning(o_custkey"), p)
  }

  test("q_ts_interval_union: one user-keyed exchange, both windows share it, no join") {
    val p = plan("q_ts_interval_union")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q_cdc_apply: last-writer-wins is one keyed window pass, no self-join") {
    val p = plan("q_cdc_apply")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q_ts_feature_join: both features ride one union-window sort, no join") {
    val p = plan("q_ts_feature_join")
    assert(!p.contains("Join"), p)
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q_ann_filtered keeps the broadcast cell-probe shape under the predicate") {
    val p = plan("q_ann_filtered")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_source_time_partitioned prunes day directories statically") {
    val p = plan("q_source_time_partitioned")
    assert(p.contains("PartitionFilters: [isnotnull(day"), p)
    assert(p.contains(">= 2024-01-05"), p)
  }

  test("q_source_dpp injects a runtime dynamicpruning filter into the fact scan") {
    val p = plan("q_source_dpp")
    assert(p.contains("dynamicpruning"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_agg_multi_distinct: three distinct key spaces dedup via one Expand") {
    val p = plan("q_agg_multi_distinct")
    assert(p.contains("Expand"), p)
    assert(!p.contains("Join"), s"multi-distinct fell back to self-joins:\n$p")
  }

  test("q_export_shards: global rank decomposes — one tiny offsets window only") {
    val p = plan("q_export_shards")
    // the single SinglePartition exchange feeds the band-relation offsets
    // window; the per-doc rank partitions by band and the corpus never
    // serializes through one task
    assert("Exchange SinglePartition".r.findAllIn(p).size == 1, p)
    assert(p.contains("windowspecdefinition(band"), p)
  }

  test("q_text_heaps: banded two-pass — the doc grain never single-partitions") {
    val p = plan("q_text_heaps")
    // doc-grain windows partition by band; only the two band-grain relations
    // (the integer-offsets aggregate and the band-ends row set) go global
    assert(p.contains("Exchange hashpartitioning(band"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2, p)
  }

  test("q_text_js_divergence: banded two-pass — the vocab grain never single-partitions") {
    val p = plan("q_text_js_divergence")
    // vocab-grain window partitions by the 2-char term-prefix band; global
    // exchanges remain only for the 1-row totals agg and the band ends
    assert(p.contains("Exchange hashpartitioning(band"), p)
    assert("Exchange SinglePartition".r.findAllIn(p).size <= 2, p)
  }

  test("q_text_entropy: banded two-pass — no single-partition exchange at all") {
    val p = plan("q_text_entropy")
    assert("Exchange hashpartitioning\\(lang#\\d+, band".r.findFirstIn(p).nonEmpty, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q_vec_rrf / q_vec_mips: banded global ranks — every window rides a band") {
    // both fused-rank queries decompose their global row_numbers through
    // GlobalRank.rowNumberBanded: local windows PARTITION by the score band,
    // and the only partition-less windows (and SinglePartition exchanges)
    // sit over the tiny band-grain offsets relation
    for (q <- Seq("q_vec_rrf", "q_vec_mips")) {
      val p = plan(q)
      assert("windowspecdefinition\\((?!__band)".r.findFirstIn(p).isEmpty,
        s"$q has a window not keyed on the score band:\n$p")
      // remaining SinglePartition exchanges feed band-grain offsets windows,
      // 1-row scalar aggregates, and the ≤10-row final sort only
      assert("Exchange SinglePartition".r.findAllIn(p).size <= 8, s"$q:\n$p")
    }
    assert(plan("q_vec_rrf").contains("TakeOrderedAndProject"), plan("q_vec_rrf"))
  }

  test("q_vec_pq_recall / q_vec_binary_hamming: top-10 sets via heap top-k") {
    for (q <- Seq("q_vec_pq_recall", "q_vec_binary_hamming")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q:\n$p")
      assert(!p.contains("Exchange SinglePartition"), s"$q:\n$p")
    }
  }

  test("q_agg_rfm: quintiles from banded ranks — no ntile, every window rides a band") {
    // AQE off for this plan: the chained ranks' offsets branches embed
    // textual copies of the ranks below them, and only the ReuseExchange
    // rule (which AQE defers to its runtime stage cache) collapses them in
    // the printed plan — the assertions pin that collapsed shape.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q_agg_rfm")
      assert(!p.contains("ntile"), p)
      assert("windowspecdefinition\\((?!__band)".r.findFirstIn(p).isEmpty,
        s"window not keyed on a metric band:\n$p")
      // each rank's offsets branch reads the ONE shared band exchange
      assert("ReusedExchange".r.findAllIn(p).size == 3, p)
      // orders is scanned ONCE: the recency rank bands on -lastd (the
      // same permutation as maxd - lastd) and the quintile formula's
      // customer count rides the first rank's offsets broadcast, so the
      // old 1-row (maxd, nn) stats branch — a second full scan of the
      // fact table at any scale — no longer exists
      assert("Scan parquet".r.findAllIn(p).size == 1, p)
      // single-partition exchanges feed only band-grain offsets windows
      // and the 125-row final sort
      assert("Exchange SinglePartition".r.findAllIn(p).size <= 7, p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_hist_equidepth: one lineitem scan — the count rides the offsets broadcast") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = plan("q_hist_equidepth")
      assert(!p.contains("ntile"), p)
      // rowNumberBanded's totalOut: the global count is the sum of the
      // per-band counts, so no second fact-table scan and no separate
      // 1-row count crossJoin exist in the plan
      assert("Scan parquet".r.findAllIn(p).size == 1, p)
      assert("ReusedExchange".r.findAllIn(p).size == 1, p)
      assert("windowspecdefinition\\((?!__band)".r.findFirstIn(p).isEmpty,
        s"window not keyed on the price band:\n$p")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q_join_null_anti plans a null-aware anti join on the nullable branch") {
    val p = plan("q_join_null_anti")
    // BOTH NOT IN branches must run as Spark's null-aware anti join —
    // BroadcastHashJoin's trailing isNullAwareAntiJoin flag renders as
    // "LeftAnti, BuildRight, true". A plain hash anti join on the raw
    // equi-condition would silently return non-empty rows on the nullable
    // branch.
    assert("LeftAnti, BuildRight, true".r.findAllIn(p).size == 2, p)
  }

  test("q_seq_paths: sessionize + cap + collect share the user-keyed sort") {
    val p = plan("q_seq_paths")
    // one exchange for the user-keyed windows, one for the (user, sid)
    // session agg, one for the path-grain count, then the top-10 heap —
    // no SinglePartition exchange anywhere (the global sort is
    // TakeOrderedAndProject)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_agg_weighted_median never sorts the row grain") {
    val p = plan("q_agg_weighted_median")
    // the window sort runs over the cents value-grain relation AFTER the
    // collapsing hash agg: the plan must aggregate below the window
    val aggIdx = p.indexOf("HashAggregate")
    val winIdx = p.indexOf("Window")
    assert(aggIdx >= 0 && winIdx >= 0, p)
    assert(p.lastIndexOf("HashAggregate") > winIdx, p) // partial agg below the window
  }

  test("q_ts_m4: the envelope is one hash aggregation, no window, no row sort") {
    val p = plan("q_ts_m4")
    // four min_by/max_by picks in ONE agg — a window formulation would sort
    // the corpus four times, and min/max over bare STRUCTs would plan a
    // SortAggregate; the only Sort allowed is the final ORDER BY over the
    // bucket-grain result
    assert(!p.contains("Window"), p)
    assert(!p.contains("SortAggregate"), p)
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"), p)
  }

  test("q_dedup_fuzzy_block: the pair stage is an equi hash join, never a cartesian") {
    val p = plan("q_dedup_fuzzy_block")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ts_session_native runs Spark's native session-window merge operator") {
    val p = plan("q_ts_session_native")
    assert(p.contains("session_window") || p.contains("MergingSessions"), p)
  }

  test("q_stats_permutation: the B-fold fan-out explodes the day grain below the agg") {
    val p = plan("q_stats_permutation")
    // generator (explode of the 200 permutation ids) must sit above a
    // collapsing aggregate of the corpus — the corpus itself is never
    // multiplied by B
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, p)
    assert(p.lastIndexOf("HashAggregate") > genIdx, p)
  }

  test("q_vec_pca_project consumes the write-once iterate, no per-query re-train") {
    // the artifact is a checkpointed RDD scan: the projection plan must not
    // contain the 3-superstep chain (it would show >= 6 aggregates)
    val p = plan("q_vec_pca_project")
    assert("HashAggregate".r.findAllIn(p).size <= 6, p)
    assert(p.contains("Scan ExistingRDD") || p.contains("LogicalRDD") ||
      p.contains("ExistingRDD"), p)
  }

  test("q_packet_time_pruned: static partition pruning eliminates 714/720 time dirs") {
    val p = plan("q_packet_time_pruned")
    // the day+hour predicate must land in PartitionFilters (directory-level
    // pruning — decided before any file opens), never in PushedFilters or a
    // post-scan Filter over p_date/p_hour
    assert(p.contains("PartitionFilters"), p)
    val pf = p.substring(p.indexOf("PartitionFilters"))
    assert(pf.contains("p_date") && pf.contains("p_hour"), p)
    // and the scan must actually read the 6 surviving hour-dirs of ONE day
    val top = run("q_packet_time_pruned").queryExecution.executedPlan
    val inner = top match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan // collect() does not traverse the AQE wrapper
      case p => p
    }
    val scan = inner.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty, p)
    val all = scan.head.relation.location.listFiles(Nil, Nil)
    val surviving = scan.head.relation.location.listFiles(
      scan.head.partitionFilters, scan.head.dataFilters)
    // at most the 6 requested hour-dirs survive (fewer at tiny SFs, where
    // not every (day, hour) cell has data and therefore a directory), out
    // of hundreds of populated time dirs
    assert(surviving.nonEmpty && surviving.size <= 6,
      s"expected <=6 surviving (date,hour) partitions, got ${surviving.size}")
    assert(all.size > 24 && surviving.size < all.size / 10,
      s"pruning removed too little: ${surviving.size} of ${all.size} dirs")
  }

  test("exactly the known non-eager queries plan a SortAggregate") {
    // the silent hash-agg fallback: an aggregate whose buffer field is not
    // UnsafeRow-mutable plans a SortAggregate, which cost 10× on
    // q_audit_checksum in r12 (docs/SCALE.md, "r14: first full
    // subquery-aware SortAggregate sweep", explains each of these). AQE
    // off: under AQE the executed plan is an AdaptiveSparkPlanExec leaf that
    // the traversal below does not enter. collectWithSubqueries, not
    // collect: a SortAggregate in a scalar-subquery branch counts too.
    // Eager builders are skipped: they run their pipeline while building,
    // and their read-back plan is a bare scan.
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val found = try {
      SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.isEager).filter { n =>
        val p = run(n).queryExecution.executedPlan
        assert(!p.isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec], n)
        p.collectWithSubqueries {
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        }.nonEmpty
      }.toSet
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    assert(found == Set("q_ann_recall", "q_dedup_cluster_rep", "q_merge_upsert",
      "q_profile_columns", "q_skew_profile", "q_stats_ks", "q_ts_ohlc"),
      s"SortAggregate now in: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("AQE skew-join: a runtime-skewed sort-merge join is split (skew=true)") {
    // SCALE.md's second skew answer (beside the manual salting in
    // operators/Skew.scala): AQE's runtime skew-join split. This proves the
    // claim on a REAL executed plan — a join whose left side sends ~90% of
    // its rows to one key must come out of AQE with the SMJ marked
    // skew=true, i.e. the hot partition was split into parallel subtasks.
    // Thresholds are scaled to test data (the production defaults trigger at
    // 256 MB partitions); factor/advisory semantics are unchanged.
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // ~90% of 300k left rows land on join key 0; right side is uniform
      val left = spark.range(300000).select(
        when(pmod(col("id"), lit(10L)) < 9, 0L).otherwise(col("id")).as("k"),
        concat(lit("payload-payload-payload-"), col("id")).as("pl"))
      val right = spark.range(20000).select(col("id").as("k"),
        concat(lit("dim-"), col("id")).as("d"))
      // a GLOBAL count: the partial agg has no distribution requirement, so
      // the skew split is legal (a groupBy on the join key would demand hash
      // distribution and AQE refuses a split that adds a shuffle). collect()
      // drives THIS dataset's QueryExecution, so the adaptive plan below is
      // the final executed one (count() would plan a separate query).
      val joined = left.join(right, "k").agg(count(lit(1)).as("n"))
      assert(joined.collect().head.getLong(0) > 0)
      // after execution the adaptive plan is final — the skew split either
      // fired (SMJ prints "skew=true") or the 100 TB skew story is broken
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), p)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
