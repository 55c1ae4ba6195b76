package graft

import org.apache.spark.sql.functions._

/** Scale-posture audit (SURVEY §4): asserts the *physical plans* carry the
  * properties that matter at 100 TB — pushdown reaching the scan, column
  * pruning, broadcast dim joins, map-side partial aggregation, top-k without
  * a global sort. A green suite here means the plan shapes survive, not just
  * the results. */
class PlanAuditSpec extends SparkSpec {

  private def plan(n: String): String =
    SparkEntry.queries(n)(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_pushdown: shipdate range reaches PushedFilters") {
    val p = plan("q_scan_pushdown")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(l_shipdate"))
  }

  test("q_scan_project: ReadSchema pruned to the 4 referenced columns") {
    val p = plan("q_scan_project")
    val rs = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs.contains("l_orderkey") && rs.contains("l_quantity"))
    assert(!rs.contains("l_shipdate") && !rs.contains("l_returnflag"),
      s"scan reads unreferenced columns: $rs")
  }

  test("q_join_star5: dimension joins broadcast, no nested loop") {
    val p = plan("q_join_star5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, "nation/region must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_agg_q1: partial (map-side) aggregation before the shuffle") {
    val p = plan("q_agg_q1")
    // NB: plan toString truncates long function lists, so only assert the
    // first partial_* entry
    assert(p.contains("partial_sum"))
    // codegen spans only appear in the post-execution final adaptive plan
    val df = SparkEntry.queries("q_agg_q1")(spark, sf)
    val codegen = df.queryExecution
      .explainString(org.apache.spark.sql.execution.CodegenMode)
    assert(codegen.contains("WholeStageCodegen subtrees"), codegen.take(200))
  }

  test("q_topk_global: TakeOrderedAndProject, not a global sort") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_join_broadcast: forced broadcast respected") {
    assert("BroadcastHashJoin".r.findAllIn(plan("q_join_broadcast")).size >= 2)
  }

  test("q_sim_topk: query side broadcast (corpus never shuffled for the join)") {
    assert(plan("q_sim_topk").contains("BroadcastNestedLoopJoin"))
  }

  test("q_dedup_near: LSH candidate join is an equi join (hash/sort-merge), no cross product") {
    val p = plan("q_dedup_near")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_contamination: benchmark gram set broadcast, corpus side never shuffled for the join") {
    val p = plan("q_contamination")
    assert(p.contains("BroadcastHashJoin"), "benchmark grams must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_sim_ivf: centroids broadcast for assignment and probing") {
    val p = plan("q_sim_ivf")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size +
           "BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "centroid joins must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_sample_hash: pure map-stage sample — no hash shuffle (the final D4 sort's range exchange is the only one)") {
    val p = plan("q_sample_hash")
    assert(!p.contains("hashpartitioning"), s"hash sample must not shuffle on a key: $p")
  }

  test("q_dedup_keep: drop set broadcast into the anti-join (corpus never shuffled)") {
    val p = plan("q_dedup_keep")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "keep-list must be a broadcast anti-join")
  }

  test("q_repetition_filter: gram counts partial-aggregate before the shuffle") {
    assert(plan("q_repetition_filter").contains("partial_count"))
  }

  test("q_pack_seq: window + aggregation share ONE hash shuffle on the stream key") {
    // hashpartitioning(lang) from the window already satisfies the
    // (lang, bin) clustering the aggregate needs — a second hash exchange
    // would be Spark re-shuffling data that is already co-located.
    val p = plan("q_pack_seq")
    assert("hashpartitioning".r.findAllIn(p).size <= 1,
      s"packing must not re-shuffle between window and aggregate: $p")
  }

  test("q_scd2: islands window, version aggregate and lead window share ONE hash shuffle") {
    // hashpartitioning(user_id) from the islands window satisfies both the
    // (user_id, island, event_type) aggregate clustering and the lead
    // window's user_id partitioning — the whole SCD2 build is one exchange
    // plus the final presentation sort.
    val p = plan("q_scd2")
    assert("hashpartitioning".r.findAllIn(p).size <= 1,
      s"SCD2 build must not re-shuffle between window/aggregate/window: $p")
  }

  test("q_geo_cell: radius join is an equi join on cell keys, no cross product") {
    val p = plan("q_geo_cell")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell bucketing must make the spatial join an equi join: $p")
  }

  test("q_incr_agg: delta scan carries the date bound in PushedFilters") {
    val p = plan("q_incr_agg")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"incremental refresh must push the delta date bound to the scan: $p")
  }

  test("q_sample_strat: pure map-stage predicate — no hash shuffle") {
    assert(!plan("q_sample_strat").contains("hashpartitioning"))
  }

  test("q_semdedup / q_emb_kmeans: centroids broadcast; no cartesian product") {
    for (q <- Seq("q_semdedup", "q_emb_kmeans")) {
      val p = plan(q)
      assert("Broadcast".r.findAllIn(p).nonEmpty, s"$q centroid join must broadcast")
      assert(!p.contains("CartesianProduct"), s"$q must not cross-join unbucketed")
    }
  }

  test("q_topk_agg: bounded aggregate partial-combines map-side; no window sort") {
    val p = plan("q_topk_agg")
    assert(p.contains("ObjectHashAggregate"), p.take(400))
    assert(p.contains("partial_graft_topk"),
      "map-side partial top-k must run before the shuffle")
    assert(!p.contains("Window"),
      "the aggregate formulation must not fall back to the window idiom")
  }

  test("q_join_existence: EXISTS-OR plans as ExistenceJoin (no row duplication, no filter-join)") {
    val p = plan("q_join_existence")
    assert(p.contains("ExistenceJoin"), p.take(400))
  }

  test("q_agg_hll_sketch: sketches partial-aggregate map-side before the shuffle") {
    val p = plan("q_agg_hll_sketch")
    assert(p.contains("partial_hll_sketch_agg"),
      "HLL sketch state must build map-side (mergeable-aggregate contract)")
  }

  test("q_funnel: all three stages ride ONE user_id shuffle") {
    val p = plan("q_funnel")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"funnel should hash-shuffle once (user_id), found $n:\n${p.take(400)}")
  }

  test("q_emb_quantize: map-only column math — no hash shuffle") {
    assert(!plan("q_emb_quantize").contains("Exchange hashpartitioning"))
  }

  test("q_tok_cooccur: vocabulary broadcast; no cartesian pair explosion") {
    val p = plan("q_tok_cooccur")
    assert(p.contains("BroadcastHashJoin"), "top-50 vocab must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_er_join: block-key equi join, never a nested-loop cross product") {
    val p = plan("q_er_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("q_time_rollup_multi: one Expand, one aggregation shuffle — never three scans") {
    val p = plan("q_time_rollup_multi")
    assert(p.contains("Expand"), "GROUPING SETS must expand in-flight")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(400))
    assert("FileScan".r.findAllIn(p).size <= 1, "multi-grain rollup must scan once")
  }

  test("q_data_mix: weighting/repetition are map-side; only the audit aggregation shuffles") {
    val p = plan("q_data_mix")
    // exactly the COUNT(DISTINCT)'s two-stage shuffle pair ((source, doc_id)
    // then (source)) — the weighted-repetition explode itself never shuffles
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 2, p.take(400))
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0 && !p.substring(gen).contains("Exchange"),
      "explode must sit directly on the scan side, below every exchange")
  }

  test("q_tfidf_terms: vocabulary-sized df join shuffles on term — never broadcasts; shared token exchange materializes once") {
    val df = SparkEntry.queries("q_tfidf_terms")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastHashJoin"),
      s"the df table has one row per distinct corpus term — it must never broadcast:\n${p.take(800)}")
    assert(p.contains("SortMergeJoin [term"),
      s"tf⋈df must be a shuffle join on term:\n${p.take(800)}")
    df.collect()
    val fin = df.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      s"shared token exchange must be reused, not recomputed:\n${fin.take(1200)}")
  }

  test("q_dpp: fact scan carries a dynamicpruning partition filter") {
    val p = plan("q_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected runtime partition pruning in:\n${p.take(600)}")
  }

  /** Every Exchange SinglePartition in the plan must sit above an
    * aggregate (i.e. carry histogram/summary rows, bounded by construction),
    * never directly above a table scan. Tree prints children immediately
    * below the parent, so "an aggregate appears before the next scan in the
    * printed subtree" pins the structure.
    */
  private def singlePartitionOnlyAboveAggregates(p: String): Unit = {
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach {
      case (_, i) =>
        val below = lines.drop(i + 1)
        val agg = below.indexWhere(l => l.contains("HashAggregate") || l.contains("ObjectHashAggregate"))
        val scan = below.indexWhere(_.contains("FileScan"))
        assert(agg >= 0 && (scan < 0 || agg < scan),
          s"Exchange SinglePartition at plan line $i feeds from a raw scan, not an aggregate:\n${p.take(1200)}")
    }
  }

  test("q_win_dist: distribution stats run bucket-partitioned — no full-table single-partition window") {
    val p = plan("q_win_dist")
    assert(p.contains("windowspecdefinition(gr_bkt"),
      s"the full-table row_number window must partition by the histogram bucket:\n${p.take(800)}")
    assert(!p.contains("ntile("), "ntile must be the integer rank formula, not a global window")
    singlePartitionOnlyAboveAggregates(p)
  }

  test("q_rfm: all three quartile rankings run bucket-partitioned") {
    val p = plan("q_rfm")
    assert("windowspecdefinition\\(gr_bkt".r.findAllIn(p).size >= 3,
      s"each RFM dimension must rank inside histogram buckets:\n${p.take(800)}")
    assert(!p.contains("ntile("), "ntile must be the integer rank formula, not a global window")
    singlePartitionOnlyAboveAggregates(p)
  }

  test("q_runtime_filter: Catalyst injects a bloom might_contain on the fact side") {
    GraftSession.withConf(spark)(graft.ops.ScaleOps.rfConfs: _*) {
      val p = graft.ops.ScaleOps.runtimeFilterJoin(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"expected an injected runtime bloom filter in:\n${p.take(1000)}")
    }
  }

  test("AQE coalesces the post-shuffle partitions (runtime re-plan active)") {
    val df = SparkEntry.queries("q_agg_q1")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead") && p.contains("coalesced"),
      s"AQE should coalesce the session's shuffle partitions at this volume:\n${p.take(600)}")
  }

  test("q_dedup_incr: bipartite LSH join is equi on (band, sig) — no cross product") {
    val p = plan("q_dedup_incr")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"incoming×curated must join through LSH buckets:\n${p.take(600)}")
  }

  test("src_jdbc: extract is range-partitioned, not a single cursor") {
    val p = plan("src_jdbc")
    assert(p.contains("numPartitions=4"),
      s"JDBC read must parallelize by key range:\n${p.take(600)}")
  }

  test("AQE skew-join split engages on a hot key (the skewed-tier safety net)") {
    // One key holding ~60% of the left side — the GenScale `skew` tier's
    // shape, scaled down to test volume. Thresholds are lowered so the
    // skew detector fires at this size (the CONDITION scales; production
    // leaves the defaults); size-based broadcast is disabled so the join
    // actually shuffles (a broadcast join has no skewed reducer to split).
    val prior = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB")
      // detection = size > max(threshold, factor × median): the hot partition
      // also needs to beat factor×median, and at 4 shuffle partitions the
      // median partition is not tiny — lower the factor with the threshold
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "50KB")
      val left = spark.range(0, 1000000)
        .select(when(col("id") < 900000, lit(0L)).otherwise(col("id") % 997).as("k"),
                col("id").as("v"))
      val right = spark.range(0, 2000).select((col("id") % 997).as("k"), col("id").as("w"))
      val joined = left.join(right, "k").agg(count(lit(1)))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE must split the hot-key partition (OptimizeSkewedJoin):\n${p.take(800)}")
    } finally prior.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("q_dedup_contain: posting-list candidate join is equi, no cross product") {
    val p = plan("q_dedup_contain")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment blocking must stay an equi join:\n${p.take(800)}")
  }

  test("q_ccnet_bucket: no corpus-wide window — ranks ride the DistRank bucket partition") {
    val p = plan("q_ccnet_bucket")
    assert(p.contains("windowspecdefinition(gr_bkt"),
      s"per-lang ranks must run through the composite-key histogram buckets:\n${p.take(800)}")
    assert(!p.contains("ntile("), "tercile must be the integer rank formula, not a window ntile")
    singlePartitionOnlyAboveAggregates(p)
  }

  test("q_pagerank: iterations are shuffle equi joins over the edge set, no cartesian") {
    val p = plan("q_pagerank")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      "per-node contribution sums must partial-aggregate map-side")
  }

  test("q_sample_weighted: k-smallest via TakeOrderedAndProject, not a global sort") {
    assert(plan("q_sample_weighted").contains("TakeOrderedAndProject"))
  }

  test("q_triangle: wedge and closing joins are equi joins, no cartesian") {
    val p = plan("q_triangle")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"oriented wedge join must stay an equi join:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must not be a global sort")
  }

  test("q_substr_dedup: NO pair join anywhere — df rides aggregations + one equi join") {
    val p = plan("q_substr_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "positional-gram df must partial-aggregate map-side")
    singlePartitionOnlyAboveAggregates(p)
  }

  test("q_knn_graph: corpus self-join is an equi join on the probe code") {
    val p = plan("q_knn_graph")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"bucket-code probing must never degrade to a nested loop:\n${p.take(800)}")
  }

  test("q_link_pred: wedge expansion and candidate filtering stay equi joins") {
    val p = plan("q_link_pred")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"co-purchase wedge join must never degrade to a nested loop:\n${p.take(800)}")
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not be a global sort")
  }

  test("q_epoch_order: first-k per epoch partial-aggregates map-side (no corpus sort)") {
    val p = plan("q_epoch_order")
    assert(p.contains("partial_graft_topk"),
      "per-epoch order must pre-reduce in the map stage")
    assert(!p.contains("Window"), "must not fall back to row_number over the corpus")
  }

  test("q_corr_matrix: all 14 moments come from ONE hash aggregation") {
    val p = plan("q_corr_matrix")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"moment matrix should shuffle once (returnflag), found $n:\n${p.take(400)}")
    assert(p.contains("partial_sum"), "moments must partial-aggregate map-side")
  }

  test("q_vocab_oov: vocab selected by TakeOrdered and broadcast back") {
    val p = plan("q_vocab_oov")
    assert(p.contains("TakeOrderedAndProject"), "top-64 vocab must not global-sort")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast into the corpus pass")
  }

  test("sink_parquet_part read-back prunes partitions by yr") {
    val path = s"target/tmp/audit_part"
    Tables.orders(spark, sf).withColumn("yr", year(col("o_orderdate")))
      .write.mode("overwrite").partitionBy("yr").parquet(path)
    val p = spark.read.parquet(path).where(col("yr") === 1996)
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("yr"))
  }

  test("q_agg_pushdown: aggregates stay BELOW the joins (eager aggregation)") {
    val p = plan("q_agg_pushdown")
    // three aggregation levels (order, customer, nation) → at least three
    // partial/final HashAggregate pairs, and the lineitem scan feeds an
    // aggregate before any join does
    assert("HashAggregate".r.findAllIn(p).size >= 6, "expected 3 agg levels")
    val firstJoin = p.indexOfSlice("Join")
    val firstAgg = p.indexOfSlice("HashAggregate")
    assert(firstAgg >= 0 && firstJoin >= 0)
    // executedPlan prints top-down: the FINAL nation join sits above the
    // aggregates; the per-order aggregate must appear below (after) it —
    // i.e. at least one aggregate deeper in the tree than the deepest join
    val lastJoin = p.lastIndexOfSlice("Join")
    val lastAgg = p.lastIndexOfSlice("HashAggregate")
    assert(lastAgg > lastJoin, "per-order aggregate must sit below the joins")
  }

  test("q_agg_multi_distinct: planned through Expand") {
    val p = plan("q_agg_multi_distinct")
    assert(p.contains("Expand"), "multi-distinct must fan out via ExpandExec")
  }

  test("q_skyline: staircase sweep — broadcast join back, no cartesian") {
    val p = plan("q_skyline")
    assert(p.contains("BroadcastHashJoin"), "skyline must broadcast the staircase")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "skyline must not fall back to the O(n^2) dominance join")
  }

  test("q_tdigest: the sketch aggregates through ObjectHashAggregate partials") {
    val p = plan("q_tdigest")
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate must plan as ObjectHashAggregate")
    assert(p.contains("partial_graft_tdigest"),
      "digest must partial-aggregate map-side (merge centroids, not rows)")
  }

  test("q_phash_dedup: band candidate join is an equi join, no pair scan") {
    val p = plan("q_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "banded pHash must never fall back to an all-pairs image join")
  }

  test("q_sim_ivfpq: codebook/ADC tables broadcast, no cartesian") {
    val p = plan("q_sim_ivfpq")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3,
      "centroids, codebooks and ADC tables must all broadcast")
    assert(!p.contains("CartesianProduct"),
      "corpus must meet queries only through the probed-cell equi join")
  }

  test("q_sim_ivf_indexed: the probe plan trains nothing and broadcasts " +
       "the bounded query side") {
    val p = plan("q_sim_ivf_indexed")
    assert(!p.contains("posexplode"), "a probe must not re-run the Lloyd step")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the |queries| x nprobe probe frame must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_rag_dense_indexed: hits broadcast into the documents hydrate") {
    val p = plan("q_rag_dense_indexed")
    assert(p.contains("BroadcastHashJoin"), "the bounded hit set must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("posexplode"))
  }

  test("q_sim_ivfpq_indexed: ADC tables broadcast, candidate joins stay equi") {
    val p = plan("q_sim_ivfpq_indexed")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "probes and the per-query ADC table must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_recursive_cte: the fact table is scanned once, outside the loop") {
    val p = plan("q_recursive_cte")
    assert(!p.toLowerCase.contains("orders.parquet"),
      "recursion must run over the materialized 12-row rollup, not rescan the fact table")
  }

  test("q_markov_transitions: lead() and the pair aggregate share one user shuffle") {
    val p = plan("q_markov_transitions")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"expected window + aggregate + broadcast-side exchanges only:\n$p")
    assert(!p.contains("CartesianProduct"))
  }
}
