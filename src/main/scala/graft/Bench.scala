package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Headline queries: one representative per operator family (SURVEY §2).
    * Round 1 benched all 86 registered queries; that made the output JSON
    * line ~4.6 KB — longer than the stdout tail the driver captures, so the
    * line was truncated and unparseable (BENCH_r01.json "parsed": null) —
    * and cost 32 min of driver wall-clock. The headline set keeps the JSON
    * line well under 1 KB and the signal per second high; Verify still
    * exercises the full inventory. SPARK_GRAFT_BENCH_ALL=1 restores the full
    * sweep for local deep-dives (do NOT use for driver rounds).
    */
  private[graft] val headline = Vector(
    "q_scan_pushdown", "q_filter_compound",                          // scan/filter
    "q_join_inner", "q_join_star5", "q_join_broadcast",              // joins
    // q_join_range_auto rotated out at 74 entries (BenchLineSpec's 2 KB
    // stdout-tail guard): _bucketed covers the scale path, _auto stays
    // inventory-verified
    "q_join_range", "q_join_range_bucketed", "q_join_asof",
    "q_join_asof_native",                                            // custom merge as-of exec (r8)
    "q_window_funnel", "q_agg_bitmap",                               // chained interval stages + bitmap distinct (r8)
    // round-17 rotation (VERDICT r8 #3): q_agg_distinct, q_union_distinct,
    // q_date_funcs, q_dedup_exact, q_doc_norm, q_geo_cell rotated out
    // (cheap, stable, family-redundant — all stay inventory-verified) for
    // the store table-format's load-bearing ops, which rounds 14-16 built
    // but the frozen 73-entry set never measured
    "q_agg_q1", "q_agg_percentile",                                  // aggregation
    "q_win_running", "q_topk_group", "q_session_batch",              // windows/sessions
    // q_json_funcs rotated out at round 21 (cheap stable scalar) to price
    // the √n-stride kmeans training pipeline (round-12 verdict #1/#8)
    "q_sim_ivf_kmeans",                                              // √n-codebook IVF train+probe (r21)
    // q_dedup_simhash rotated out at round 21 (the dedup family keeps
    // q_dedup_near + q_dedup_embcos + the LSH/incr variants) to price
    // the WAND multi-term OR probe every round
    "q_dedup_near", "q_bm25_or",                                     // dedup + WAND OR top-k (r21)
    "q_dedup_embcos",
    // q_sim_topk rotated out at round 20, q_sim_lsh at round 21 (cheap
    // stable; the family keeps q_sim_ivf/q_sim_bq + the indexed probes)
    // for the round's flagship filtered search — attr build + pushed-
    // predicate probe priced every round
    "q_sim_ivf_filtered",                                            // filtered ANN (r21)
    "q_tfidf_terms", "q_lang_id", "q_quality_filter",                // text analysis
    // q_sim_ivf rotated out at round 21 (the IVF family is priced by
    // q_sim_ivf_kmeans + q_sim_ivf_indexed + q_sim_ivf_filtered)
    "q_contamination",                                               // curation (r2)
    // q_pack_seq rotated out at round 19 (cheap stable training-batch op;
    // q_rag_pack exercises the same packing math) for the columnar-store
    // flagship; src_dsv2_sample likewise (protocol stays spec-verified)
    "q_semdedup",                                                    // training-batch (r3)
    // q_scd2 rotated out at round 21 (cheap stable; q_cdc_merge keeps the
    // lifecycle family priced) for the RLE columnar store seed+scan
    "q_store_col_rle", "q_cdc_merge",                                // RLE blocks + ETL lifecycle (r21/r3)
    "q_skew_salted",                                                 // scale posture
    // q_funnel rotated out at round 20 (q_window_funnel covers the family)
    "q_er_join",                                                     // event analytics / linkage (r4)
    // q_emb_quantize rotated out at round 22 (cheap stable map-only;
    // the vector family is priced by the sim/ANN ops) for the round's
    // flagship persisted MaxSim probe
    "q_agg_hll_sketch", "q_pipeline_e2e",                            // sketch + e2e chain (r4)
    "q_dedup_incr", "q_dedup_embcos_lsh", "q_runtime_filter",        // incr dedup + sub-block + bloom inject (r5)
    "q_pagerank", "q_winnow",                                        // graph iterate + winnow scan (r6)
    "q_dedup_contain", "q_ccnet_bucket",                             // posting-list block + DistRank ntile (r6)
    "q_triangle", "q_substr_dedup", "q_knn_graph",                   // oriented wedges + span df + knn self-join (r7)
    // q_hilbert_key rotated out at round 18 (cheap stable codegen scalar;
    // q_store_zorder exercises the same kernel) for the persisted-index
    // probe — the round's flagship op
    "q_tdigest",                                                     // t-digest sketch agg (r9)
    "q_sim_ivf_indexed",                                             // persisted-IVF build+probe (r18)
    "q_label_prop", "q_win_distinct_count",                          // majority LPA rounds + windowed distinct (r10)
    "q_assoc_rules", "q_sim_bq", "s_tws_timers",                     // basket pair mining + BQ hamming ANN + timer exec (r11)
    "q_hits_cached", "q_store_merge", "s_src_dsv2",                  // HITS cut-lineage + connector merge + DSv2 stream read (r12)
    "q_dsir_sample", "q_kcenter",                                    // DSIR importance weights + k-center coreset (r12)
    "q_chunk_cdc",                                                   // CDC chunk dedup (r13)
    "q_store_part", "s_chunk_cdc_idx",                               // bucketed-store SPJ + stateless chunk ingest (r14)
    "q_store_merge_delta", "q_store_delete_mor",                     // delta MERGE (masks+appends) + MoR vector delete (r17)
    "q_store_zorder", "q_store_cdf",                                 // hilbert 2-D compact + change data feed (r17)
    "s_store_upsert_delta",                                          // streaming delta upsert sink (r17)
    "q_store_col_proj", "q_bm25_indexed",                            // columnar narrow scan + persisted BM25 (r19)
    "q_bm25_topn", "q_store_col_dict",                               // impact-bound top-k + dict blocks (r20)
    "q_sim_maxsim_indexed",                                          // persisted MaxSim/PLAID build+probe (r22)
    "s_tumble_wm", "s_stateful", "s_join_outer",                     // streaming
    "src_json")                                                      // ingest

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.build(cpus)
    // SPARK_GRAFT_BENCH_ONLY=q_a,q_b — local iteration on a subset (never
    // set by the driver; its run times the headline set).
    val benched: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (sys.env.get("SPARK_GRAFT_BENCH_ALL").contains("1")) SparkEntry.queries.toSeq
      else sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
        case Some(list) =>
          list.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
            .map(n => n -> SparkEntry.queries(n))
        case None =>
          val missing = headline.filterNot(SparkEntry.queries.contains)
          require(missing.isEmpty, s"headline queries not registered: $missing")
          headline.map(n => n -> SparkEntry.queries(n))
      }
    // JIT/codegen warmup: run every benched query once at the smallest SF so
    // the timed pass measures query execution, not JVM/codegen warmup (the
    // generated whole-stage code is identical across scale factors, so the
    // JIT code cache carries over; measured: 22 queries cold ≈ 120 s,
    // steady-state ≈ 8 s on this container).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    benched.foreach { case (_, fn) =>
      try fn(spark, warmDir).queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    }
    // Best-of-2 per query: this container suffers random multi-second host
    // stalls (measured: identical queries swinging 2s ↔ 38s); the min of two
    // runs reports steady-state execution time instead of host luck.
    //
    // Timing primitive: execute the PHYSICAL PLAN AS DECLARED
    // (queryExecution.toRdd.count() — the InternalRow RDD of the optimized
    // plan, every output column materialized), NOT DataFrame.count().
    // count() stacks an Aggregate on top and Catalyst then prunes every
    // column no filter/join depends on — a pure scan-compute query (e.g.
    // q_winnow's per-doc fingerprint kernel, q_emb_rp's 16 projections)
    // collapses to "count the input rows" and the bench times nothing
    // (measured: q_winnow 0.12 s at BOTH sf0.1 and the 10× tier). toRdd
    // runs exactly what Verify writes to parquet, minus the write.
    // Methodology changed in round 6 — BASELINE.md's reference JSONs from
    // earlier rounds were count()-shaped; the round-6 reference re-measures
    // the full headline under this primitive.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).queryExecution.toRdd.count() }
      catch {
        case t: Throwable =>
          // SPARK_GRAFT_BENCH_DEBUG=1: local diagnosis only — the driver's
          // stdout tail must stay small, so failures are silent by default.
          if (sys.env.get("SPARK_GRAFT_BENCH_DEBUG").contains("1")) t.printStackTrace()
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Host-health probe: a fixed CPU+shuffle micro-task (~0.1 s on a quiet
    // container) timed before and after the sweep. This container suffers
    // random multi-minute host-contention windows (BASELINE.md); a ballooned
    // calib value in the output JSON tells the reader the environment — not
    // the engine — was slow for that run.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 20000000L, 1, cpus.toInt)
        .selectExpr("count(distinct id % 1000)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // Stall localization + recovery (VERDICT r4 #3): r4's bench spent one
    // contiguous host-stall window on a 9-query stretch and both best-of-2
    // samples of those queries landed inside it — back-to-back samples have
    // no temporal diversity against a multi-second stall. So: interleave a
    // calib probe every `calibEvery` queries; after the sweep, any query
    // whose surrounding probes were degraded — > 2.5× the best probe of
    // the run AND above an absolute 0.7 s floor (quiet probes swing
    // 0.1-0.4 s; without the floor a 0.12 s best flags normal noise) —
    // gets ONE more timing pass at the end, far from the stall window,
    // and reports the min of all samples. If the WHOLE run is degraded,
    // retries can't help, but the calib floor in the JSON says so.
    val calibEvery = 8
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstPass = benched.zipWithIndex.map { case ((name, fn), i) =>
      if (i % calibEvery == 0) calibs += calibrate()
      val a = timeOnce(fn)
      val b = timeOnce(fn)
      (name, fn, if (a < 0 || b < 0) -1.0 else math.min(a, b), calibs.size - 1)
    }
    calibs += calibrate()
    val quietest = calibs.min
    def windowStalled(ci: Int): Boolean = {
      val w = math.max(calibs(ci), calibs(ci + 1))
      w > 2.5 * quietest && w > 0.7
    }
    val results = firstPass.map { case (name, fn, t, ci) =>
      name -> (if (t >= 0 && windowStalled(ci)) {
        val r = timeOnce(fn)
        if (r < 0) t else math.min(t, r)
      } else t)
    }
    val nRetry = firstPass.count { case (_, _, t, ci) => t >= 0 && windowStalled(ci) }
    // A throwing query must surface as an explicit failure, not silently
    // shrink the total (a -1 summed in would make the bench look FASTER).
    val (failed, ok) = results.partition(_._2 < 0)
    val qs = ok.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val calibsJson = calibs.map(c => f"$c%.2f").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"n_failed":${failed.size},"failed":$failedJson,"calib":[${calibs.head}%.3f,${calibs.last}%.3f],"calibs":$calibsJson,"n_retry":$nRetry,"sf":"$sfDir"}""")
    graft.ops.LlmOps.release()
    spark.stop()
  }
}
