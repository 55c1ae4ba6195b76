package graft.ops

import graft.{Local, Tables}
import graft.sources.AnnIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED ANN INDEX queries (verdict r9 #1) — the IVF index as a store
  * ARTIFACT instead of a per-query retrain.
  *
  * q_sim_ivf_kmeans (ops/TrainingOps.scala) trains its codebook inside every
  * invocation; these queries build the index ONCE into store tables
  * (sources/AnnIndex.scala: exact-integer codebook + identity-partitioned
  * posting lists) and then PROBE it — the probe plans the probed partitions
  * only and runs zero training stages (AnnIndexSpec pins both plan facts).
  * Because the persisted state is the exact-integer Lloyd sums, a probe
  * reproduces the retrain-per-query pipeline bit for bit — so the DuckDB
  * oracle is the SAME training replay, and the hash gate pins that an index
  * round-trip through disk loses nothing. */
object IndexOps extends OpModule {

  private def tmpIdx(d: String, name: String) =
    s"target/tmp/idx_${name}_${java.lang.Integer.toHexString(d.hashCode)}"

  private def cosQ(a: String, b: String) = TrainingOps.duckCos(a, b)

  /** The shared training-replay CTE prefix: nz corpus → stride seeds → one
    * exact-integer Lloyd step → trained cells (c1) → full assignment (asg)
    * → queries (q). Probe/rank clauses differ per query and are appended by
    * the callers. Mirrors TrainingOps.simIvfKmeansOracle. */
  private def trainReplayCtes: String = {
    val cosES = cosQ("e.embedding", "sd.c_emb")
    val cosEC1 = cosQ("e.embedding", "c1.c_emb")
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
       |sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e
       |       WHERE vec_id % ${TrainingOps.strideSql("e")} = 0),
       |a1 AS (SELECT n_id, n_emb, bucket FROM (
       |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, sd.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosES DESC, sd.c_id) AS arn
       |    FROM e CROSS JOIN sd) t WHERE arn = 1),
       |dims AS (SELECT bucket, generate_subscripts(n_emb, 1) AS idx,
       |                UNNEST(n_emb) AS v FROM a1),
       |upd AS (SELECT bucket, idx,
       |          CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sv,
       |          COUNT(*) AS n
       |        FROM dims GROUP BY bucket, idx),
       |c1 AS (SELECT bucket AS c_id,
       |          LIST(CAST((sv / 1048576.0) / n AS REAL) ORDER BY idx) AS c_emb
       |       FROM upd GROUP BY bucket),
       |asg AS (SELECT n_id, n_emb, bucket FROM (
       |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, c1.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosEC1 DESC, c1.c_id) AS arn
       |    FROM e CROSS JOIN c1) t WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10)""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // IVF probe against the PERSISTED index: build writes the codebook +
    // identity-partitioned posting lists as store tables, probe reads them —
    // no Lloyd step, no corpus assignment at query time (at 100 TB those ran
    // once, at build). Identical output to q_sim_ivf_kmeans because the
    // codebook persists the EXACT-INTEGER training state: the disk
    // round-trip is lossless by construction, and the shared oracle pins it.
    "q_sim_ivf_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "simivf")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      AnnIndex.probe(s, queries, idx).orderBy(col("q_id"), col("rn"))
    }),

    // PERSISTED LATE-INTERACTION INDEX (round-13 verdict #1):
    // q_sim_maxsim_ivf seeds, assigns, and probes from scratch inside
    // every invocation; here the PLAID-shape artifact persists
    // (sources/MaxSimIndex.scala: √n-stride cells + cell-partitioned
    // token postings for candidate generation + a doc-bucketed token
    // twin for exact refinement) and the query is a PROBE — stage 1
    // plans the probed cells' partitions, stage 2 plans the candidate
    // docs' buckets, and the ranking kernel is the EXACT MaxSim
    // (candidate-then-exact — never partial sums). Bit-identical to the
    // retrain-per-query pipeline (same seeds, same assignment, same one
    // e6 rounding), so it SHARES q_sim_maxsim_ivf's oracle verbatim —
    // the "persisted == retrained" contract, late-interaction edition.
    "q_sim_maxsim_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "maxsim")
      val nz = TrainingOps.nzEmbeddings(s, d)
      val tokens = nz.where(col("vec_id") >= 20)
        .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
                col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      graft.sources.MaxSimIndex.build(s, nz, tokens, idx)
      val q = nz.where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      graft.sources.MaxSimIndex.probe(s, q, idx)
        .orderBy(col("q_id"), col("rn"))
    }),

    // FILTERED ANN SEARCH — "nearest neighbors WHERE label = 3", the
    // predicate+vector query every production vector store serves. The
    // filter attribute is PERSISTED IN THE POSTINGS at build (the
    // amt_cents slot — the store's second zone column, so files whose
    // [minA,maxA] exclude the value prune from the manifest alone), and
    // the probe evaluates it index-resident: cell pruning plans nprobe
    // partitions, the pushed equality drops non-matching candidates
    // before ranking, and the corpus never opens. Post-filter-within-
    // probed-cells semantics — the standard IVF filtered-search trade
    // (matches outside probed cells are the recall cost; nprobe is the
    // dial). At 100 TB: probe cost is nprobe lists × filter selectivity.
    "q_sim_ivf_filtered" -> ((s, d) => {
      val idx = tmpIdx(d, "simivfflt")
      AnnIndex.build(s, Tables.embeddings(s, d), idx, Some("label"))
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      AnnIndex.probeFiltered(s, queries, idx, 3L)
        .orderBy(col("q_id"), col("rn"))
    }),

    // EMBEDDING-SPACE HEALTH — the QA pass a corpus runs BEFORE indexing:
    // norm distribution (zero/degenerate vectors, scale drift) and the
    // anisotropy proxy ‖mean vector‖ / mean ‖vector‖ — a high ratio means
    // the space collapsed toward a common direction and cosine retrieval
    // will rank noise. All exact: per-row norms round to 1e-6 ints before
    // summing (never SUM(double)), per-dim means ride the 2^-20 integer
    // trick, and the final ratio is integer division. One scan, one
    // dim-sized reduce — nothing at 100 TB but the pass itself.
    "q_emb_norm_stats" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      val normAgg = e.agg(
        count(lit(1)).as("n"),
        sum(expr("cast(round(nrm * 1e6) as bigint)")).as("norm_sum_e6"),
        min(expr("cast(round(nrm * 1e6) as bigint)")).as("norm_min_e6"),
        max(expr("cast(round(nrm * 1e6) as bigint)")).as("norm_max_e6"))
        .collect()(0)
      // per-dim exact-integer sums; the 64-term squared-sum folds ASCENDING
      // by dim on the driver (a SUM(double) aggregate would be
      // order-sensitive — the oracle replays the same ordered fold)
      val dims = e
        .select(posexplode(col("embedding")).as(Seq("idx", "v")))
        .groupBy(col("idx"))
        .agg(expr("sum(cast(round(cast(v as double) * 1048576) as bigint))").as("sv"),
             count(lit(1)).as("nd"))
        .collect().sortBy(_.getInt(0)) // bounded: one row per dimension
      val meanSq = dims.foldLeft(0.0) { (acc, r) =>
        val m = r.getLong(1).toDouble / 1048576.0 / r.getLong(2)
        acc + m * m
      }
      val meanVecNormE6 = math.round(math.sqrt(meanSq) * 1e6)
      // BigInt product before the divide: meanVecNormE6 (~1e6 for unit
      // vectors) * n * 1e6 is ~1e12 * n and would silently wrap a Long
      // past ~9M vectors while the DuckDB twin errors/promotes — the
      // quotient itself (a ratio in e6 units) always fits a Long
      val aniE6 = (BigInt(meanVecNormE6) * normAgg.getLong(0) * 1000000L /
        normAgg.getLong(1)).toLong
      import s.implicits._
      Seq(
        ("mean_vec_norm_e6", meanVecNormE6),
        ("anisotropy_e6", aniE6),
        ("n", normAgg.getLong(0)),
        ("norm_max_e6", normAgg.getLong(3)),
        ("norm_min_e6", normAgg.getLong(2)),
        ("norm_sum_e6", normAgg.getLong(1))).toDF("stat", "v")
        .orderBy(col("stat"))
    }),

    // INDEX OCCUPANCY AUDIT — the operational question every IVF owner
    // asks: are my posting lists balanced? Per-cell live-row counts come
    // from the MANIFEST of the persisted postings store (zero data reads —
    // one line per partition file), plus the skew factor max/mean in 1e4
    // units. A cell 10× the mean means probe latency is that cell; the
    // fix is more centroids or a rebuild — this query is how you notice.
    "q_index_stats" -> ((s, d) => {
      val idx = tmpIdx(d, "stats")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      val cells = AnnIndex.cellCounts(idx)
      val total = cells.map(_._2).sum
      val maxN = cells.map(_._2).max
      val skewE4 = maxN * 10000L * cells.size / total
      import s.implicits._
      cells.toDF("c_id", "n_vectors")
        .unionByName(Seq((-1L, skewE4)).toDF("c_id", "n_vectors"))
        .orderBy(col("c_id"))
    }),

    // PERSISTED IVFPQ — the memory-bound index leg persisted next to the
    // coarse one: `codes` (2 codeword ids per vector, cell-partitioned like
    // postings) + `pqcb` (the frozen sampled sub-codebooks). A probe is
    // index-resident end to end: nprobe cells planned, ADC = two integer
    // lookups per candidate, exact-cosine re-rank of the top-20 against
    // the SAME probed postings partitions — the corpus never opens. At
    // 100 TB the codes table is what fits in memory (2 bytes/vector vs 256)
    // and this query pins that the persisted artifact serves it losslessly.
    "q_sim_ivfpq_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "ivfpq")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      AnnIndex.buildPq(s, Tables.embeddings(s, d), idx)
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      AnnIndex.probePq(s, queries, idx).orderBy(col("q_id"), col("rn"))
    }),

    // FILTERED IVFPQ — the metadata predicate on the COMPRESSED leg: the
    // attribute persists in the `codes` rows (the amt slot, mirroring
    // the postings), so the equality drops candidates BEFORE ADC ranking
    // — non-matching vectors never consume the adcN refinement budget
    // (post-filtering after the cut starves selective filters), and the
    // probe stays integer-and-codes-only until the exact re-rank of the
    // survivors. At 100 TB: nprobe cells × filter selectivity × two
    // integer lookups, floats only for the top-adcN rerank.
    "q_sim_ivfpq_filtered" -> ((s, d) => {
      val idx = tmpIdx(d, "ivfpqflt")
      AnnIndex.build(s, Tables.embeddings(s, d), idx, Some("label"))
      AnnIndex.buildPq(s, Tables.embeddings(s, d), idx, Some("label"))
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      AnnIndex.probePqFiltered(s, queries, idx, 3L)
        .orderBy(col("q_id"), col("rn"))
    }),

    // DENSE RAG RETRIEVAL through the persisted index: the retrieve stage
    // an indexed RAG pipeline actually runs — probe the IVF lists for each
    // query's top-5 neighbors, then hydrate the hits against the documents
    // table (doc_id = vec_id, the corpus convention) for downstream
    // packing/reranking. At 100 TB the retrieval cost is nprobe posting
    // lists + a broadcast hydrate of ~k·|queries| rows — the corpus is
    // never scanned at query time.
    "q_rag_dense_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "rag")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      val hits = AnnIndex.probe(s, queries, idx) // bounded: 5 per query
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .join(broadcast(hits.withColumnRenamed("n_id", "doc_id")), "doc_id")
        .select(col("q_id"), col("rn"), col("doc_id"), col("lang"),
                col("n_chars"), col("score_e4"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // WHAT QUANTIZATION COSTS, measured on ONE persisted index: recall@5 of
    // the full-vector probe vs the PQ (ADC + re-rank) probe against the
    // exact brute-force top-5 — the accuracy side of the 32× memory cut,
    // as an oracled number instead of a slide. Both probes read the same
    // cells of the same artifact; the delta is purely the code
    // approximation inside the candidate stage.
    "q_ann_recall_pq" -> ((s, d) => {
      val idx = tmpIdx(d, "recallpq")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      AnnIndex.buildPq(s, Tables.embeddings(s, d), idx)
      val nz = TrainingOps.nzEmbeddings(s, d)
      val queries = nz.where(col("vec_id") < 10)
      val qv = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                              col("nrm").as("q_nrm"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      val exact = nz
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                col("nrm").as("n_nrm"))
        .join(broadcast(qv))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint()
      def recallOf(ann: DataFrame, variant: String): DataFrame = {
        val hits = exact.join(ann.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(lit(variant).as("variant"), col("q_id"),
                  expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
      }
      recallOf(AnnIndex.probe(s, queries, idx), "full")
        .unionByName(recallOf(AnnIndex.probePq(s, queries, idx), "pq"))
        // the REFINEMENT dial (round-12 verdict #3): a 5×-wider ADC
        // candidate set re-ranked exactly — recall recovers to the float
        // probe's (the re-rank stage erases the code approximation as
        // long as the true top-k survives the ADC cut)
        .unionByName(recallOf(AnnIndex.probePq(s, queries, idx, adcN = 100),
          "pqwide"))
        .orderBy(col("variant"), col("q_id"))
    }),

    // The probe-width knob on a FROZEN index: recall@5 vs the exact top-5
    // at nprobe = 1 and nprobe = 2, probing the SAME persisted index twice —
    // the accuracy/cost dial a 100 TB operator turns per query class without
    // ever retraining (double the probed lists, higher recall, zero new
    // index bytes). Both recall curves are hash-pinned: the oracle replays
    // training, both probe widths, and the brute-force reference.
    "q_ann_recall_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "recall")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      val nz = TrainingOps.nzEmbeddings(s, d)
      val queries = nz.where(col("vec_id") < 10)
      val qv = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                              col("nrm").as("q_nrm"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      val exact = nz
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                col("nrm").as("n_nrm"))
        .join(broadcast(qv))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint() // bounded: 5 rows per query
      def recallOf(ann: DataFrame, variant: String): DataFrame = {
        val hits = exact.join(ann.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(lit(variant).as("variant"), col("q_id"),
                  expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
      }
      recallOf(AnnIndex.probe(s, queries, idx, nprobe = 1), "p1")
        .unionByName(recallOf(AnnIndex.probe(s, queries, idx, nprobe = 2), "p2"))
        .orderBy(col("variant"), col("q_id"))
    }),

    // RECALL OF FILTERED ANN SEARCH — the measured cost of the
    // post-filter-within-probed-cells trade (q_sim_ivf_filtered's
    // semantics): ground truth is the EXACT filtered top-5 (brute force
    // over every label-matching vector in the corpus), the probe ranks
    // only matching vectors inside its nprobe cells — matches living in
    // unprobed cells are the recall gap, and widening nprobe is the dial
    // that buys it back (p2 ≥ p1 per query by construction). This is the
    // number a 100 TB operator reads before choosing nprobe for a
    // filtered workload — selective filters thin every cell, so filtered
    // recall needs MORE probes than unfiltered at the same target.
    "q_ann_recall_filtered" -> ((s, d) => {
      val idx = tmpIdx(d, "recallflt")
      AnnIndex.build(s, Tables.embeddings(s, d), idx, Some("label"))
      val nz = TrainingOps.nzEmbeddings(s, d)
      val queries = nz.where(col("vec_id") < 10)
      val qv = queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("n_id"))
      val exact = nz.where(col("label") === 3)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                col("nrm").as("n_nrm"))
        .join(broadcast(qv))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"))
        .localCheckpoint() // bounded: 5 rows per query
      def recallOf(ann: DataFrame, variant: String): DataFrame = {
        val hits = exact.join(ann.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(lit(variant).as("variant"), col("q_id"),
                  expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
      }
      recallOf(AnnIndex.probeFiltered(s, queries, idx, 3L, nprobe = 1), "p1")
        .unionByName(
          recallOf(AnnIndex.probeFiltered(s, queries, idx, 3L, nprobe = 2), "p2"))
        .orderBy(col("variant"), col("q_id"))
    }),

    // PERSISTED BM25 INDEX (round-11 verdict #4 — the sparse twin of
    // q_sim_ivf_indexed): q_bm25 rebuilds tf/df/dlen per query; here the
    // inverted index is a store ARTIFACT (sources/TextIndex.scala:
    // shard-partitioned postings with denormalized norms, a dictionary
    // table, exact-integer corpus stats in _props) and the query is a
    // PROBE — the planned partitions are the query terms' shards, the
    // corpus never re-tokenizes. Bit-identical to the recompute pipeline
    // (same tokenizer, same per-term e4-rounded Okapi kernel, stats as
    // exact-integer literals), so it SHARES q_bm25's oracle verbatim.
    "q_bm25_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "bm25")
      graft.sources.TextIndex.build(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")), idx)
      graft.sources.TextIndex.probeTop(s, idx, topk = 20)
    }),

    // BM25 TOP-K WITH EARLY TERMINATION (round-12 verdict #4): the
    // persisted postings are impact-ordered (range-clustered on the
    // quantized tf/dl score part) and each file's manifest imp zone
    // bounds what any posting in it can score — the probe scores the top
    // impact band first, then never opens a file whose bound cannot
    // reach the running k-th score (z_pruned pins planned < candidates).
    // Rank-safe by construction, so the oracle is the plain single-term
    // BM25 top-k closed form over the whole corpus.
    "q_bm25_topn" -> ((s, d) => {
      val idx = tmpIdx(d, "bm25topn")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")), idx)
      ti.lastTopNFiles = None
      val top = Local(ti.probeTopN(s, idx, topk = 10), 10)
      val pruned = ti.lastTopNFiles.exists { case (p, t) => p >= 1 && p < t }
      (top ++ Seq(org.apache.spark.sql.Row(-1L, if (pruned) 1L else 0L))) // z_pruned
        .toDF(s).orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // BOOLEAN AND RETRIEVAL on the persisted sparse index: only docs
    // containing BOTH of the corpus's two most common len≥4 terms rank
    // (the Lucene BooleanQuery-MUST shape). The conjunction is the
    // n_terms gate over the shared BM25 scoring kernel — candidates are
    // bounded by the rarest term's df, the probe plans only the terms'
    // shards, and the corpus never re-opens. Query formulation (the two
    // terms) is one corpus aggregate, mirrored in the oracle's qt CTE.
    "q_bm25_and" -> ((s, d) => {
      val idx = tmpIdx(d, "bm25and")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")), idx)
      // query formulation from the index's OWN dictionary (df is exact
      // there — the build already aggregated it): the ad-hoc corpus
      // re-tokenization this replaced chose the identical terms and cost
      // a second full token pass (r14 optimization; the snippet queries
      // always did it this way)
      val terms = ti.terms(s, idx).where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(2)
        .collect().map(_.getString(0)).toSeq
      ti.probeAnd(s, idx, terms, topk = 15)
        .orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // DISJUNCTIVE (OR) TOP-K — full WAND over the impact-banded postings:
    // the corpus's three most common len≥4 terms rank docs by summed
    // BM25, and files prune on the per-term bound PLUS the other terms'
    // global best-file bounds (the Broder WAND sum; rank-safe incl. ties
    // — see TextIndex.probeOr's soundness note). The oracle is the plain
    // OR closed form: pruning is purely an I/O fact (z row sanity-pins
    // the planned/total witness; the adversarial pruning fixture lives in
    // TextIndexSpec where band layout is controlled).
    "q_bm25_or" -> ((s, d) => {
      val idx = tmpIdx(d, "bm25or")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")), idx)
      // top-3 by df from the index dictionary — identical terms to the
      // ad-hoc corpus re-tokenization this replaced, minus the second
      // full token pass (r14 optimization)
      val terms = ti.terms(s, idx).where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(3)
        .collect().map(_.getString(0)).toSeq
      ti.lastOrFiles = None
      val top = Local(ti.probeOr(s, idx, terms, topk = 15), 15)
      val sane = ti.lastOrFiles.exists { case (p, t) => p >= 1 && p <= t }
      (top ++ Seq(org.apache.spark.sql.Row(-1L, if (sane) 1L else 0L)))
        .toDF(s).orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // METADATA-FILTERED TEXT RETRIEVAL (round-13 verdict #2): "top-k
    // matching docs WHERE tenant = 1" — the predicate+keywords query
    // real retrieval almost always is. The integer attribute (here a
    // synthetic tenant id, doc_id % 4) persists INSIDE the postings at
    // build (the AnnIndex attrCol pattern), so the filtered WAND probe
    // evaluates it index-resident: candidates drop before scoring, the
    // corpus never joins, and the per-term impact bounds stay rank-safe
    // (the filter only removes candidates; θ from filtered phase-1
    // under-estimates — prunes less, never wrongly). Shares q_bm25_or's
    // closed form restricted to the tenant's docs; the z row sanity-pins
    // the planned/total pruning witness.
    "q_bm25_filtered" -> ((s, d) => {
      val idx = tmpIdx(d, "bm25flt")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d)
          .select(col("doc_id"), col("text"),
                  pmod(col("doc_id"), lit(4)).as("attr")),
        idx, attr = true)
      // top-3 by df from the index dictionary — identical terms to the
      // ad-hoc corpus re-tokenization this replaced (r14 optimization)
      val terms = ti.terms(s, idx).where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(3)
        .collect().map(_.getString(0)).toSeq
      ti.lastOrFiles = None
      val top = Local(ti.probeOr(s, idx, terms, topk = 15, attrEq = Some(1L)), 15)
      val sane = ti.lastOrFiles.exists { case (p, t) => p >= 1 && p <= t }
      (top ++ Seq(org.apache.spark.sql.Row(-1L, if (sane) 1L else 0L)))
        .toDF(s).orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // PHRASE QUERY over POSITIONAL postings (round-12 verdict #4): the
    // index is built with `graft.text.positions` — each (doc, term)
    // posting carries its sorted raw-token positions — and the probe
    // finds docs where the corpus's most frequent adjacent pair of
    // len≥4 tokens occurs TEXTUALLY adjacent, with per-doc counts.
    // Query formulation (the top bigram) is one corpus aggregate; the
    // phrase probe itself plans only the two terms' shards and checks
    // adjacency inside their posting lists — at 100 TB phrase retrieval
    // costs two posting lists, never a corpus re-scan.
    "q_bm25_phrase" -> ((s, d) => {
      val idx = tmpIdx(d, "phrase")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        idx, positions = true)
      val top = topBigram(s, d)
      ti.probePhrase(s, idx, top(0), top(1)).orderBy(col("doc_id"))
    }),

    // SNIPPET GENERATION — the display half of retrieval (Lucene
    // highlighter shape): the corpus's most document-frequent len≥6 term,
    // its top-3 docs by tf, the FIRST match position from the positional
    // postings (sorted csv → head, no decode), and a ±2-token window
    // hydrated from the documents table by doc_id. The index answers
    // WHERE; the corpus supplies bytes for 3 docs only — at 100 TB
    // highlighting is one term-shard read + n point lookups, never a
    // corpus scan. Edge clamps mirrored by the oracle's end-inclusive
    // list_slice (the q_fim dialect trap, handled the same way).
    "q_bm25_snippet" -> ((s, d) => {
      val idx = tmpIdx(d, "snippet")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        idx, positions = true)
      val term = ti.terms(s, idx).where(length(col("t")) >= 6)
        .orderBy(col("df").desc, col("t")).limit(1)
        .collect()(0).getString(0)
      ti.snippet(s, idx, term,
          Tables.documents(s, d).select(col("doc_id"), col("text")))
        .orderBy(col("tf").desc, col("doc_id"))
    }),

    // MULTI-TERM SNIPPET (round-13 verdict #6): highlighting for the
    // QUERY'S TERM SET, not one term — the corpus's top-2 len≥6 terms,
    // docs ranked by summed tf, each term's first position contributing
    // a ±2 window, and overlapping/adjacent windows MERGED into islands
    // (the Lucene passage-merge shape). Positions come from the index,
    // text hydrates for 3 docs — at 100 TB multi-term highlighting is
    // ≤|terms| shard reads + n point lookups. The oracle replays the
    // gaps-and-islands window chain verbatim.
    "q_bm25_snippet_multi" -> ((s, d) => {
      val idx = tmpIdx(d, "snipmulti")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        idx, positions = true)
      val terms = ti.terms(s, idx).where(length(col("t")) >= 6)
        .orderBy(col("df").desc, col("t")).limit(2)
        .collect().map(_.getString(0)).toSeq
      ti.snippetMulti(s, idx, terms,
          Tables.documents(s, d).select(col("doc_id"), col("text")))
        .orderBy(col("doc_id"), col("isl"))
    }),

    // PROXIMITY QUERY (the sloppy-phrase generalization): the same two
    // terms probed with slop = 3 — `t2` anywhere within 3 raw-token
    // positions after `t1` counts (distinct qualifying t1 positions).
    // Strictly a superset of the exact phrase's matches; same two-shard
    // pruning, same posting-list-bounded cost — the Lucene sloppy
    // PhraseQuery shape on the persisted artifact.
    "q_bm25_prox" -> ((s, d) => {
      val idx = tmpIdx(d, "prox")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        idx, positions = true)
      val top = topBigram(s, d)
      ti.probePhrase(s, idx, top(0), top(1), slop = 3).orderBy(col("doc_id"))
    }),

    // ANALYZER AS A BUILD PROPERTY (round-12 verdict #6): stopwords +
    // minimum token length resolve at build time, persist in the index
    // props, and refresh/probes read the index's OWN configuration —
    // here the corpus's three most common operators ('join','hash',
    // 'scan') are stopped and short tokens dropped, so the dictionary,
    // df, dl, nd, tl — and therefore every score — reflect the analyzed
    // token stream. The oracle serializes the same list as literals
    // (the LSH-seed technique) and replays the filtered BM25 chain.
    "q_bm25_analyzed" -> ((s, d) => {
      val idx = tmpIdx(d, "analyzed")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")),
        idx, stopwords = Seq("join", "hash", "scan"), minLen = 4)
      ti.probeTop(s, idx, topk = 20)
    }),

    // PQ EXACT RE-RANK, WIDE (round-12 verdict #3): the same persisted
    // IVFPQ probed with a 5×-wider ADC candidate set (top-100) before
    // the exact-cosine re-rank — the standard FAISS refinement: ADC
    // stays integer lookups, the float vectors are touched for 100 rows
    // per query, and recall recovers toward the full-vector probe
    // (q_ann_recall_pq's pqwide variant measures exactly that).
    "q_sim_ivfpq_rerank" -> ((s, d) => {
      val idx = tmpIdx(d, "pqrerank")
      AnnIndex.build(s, Tables.embeddings(s, d), idx)
      AnnIndex.buildPq(s, Tables.embeddings(s, d), idx)
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      AnnIndex.probePq(s, queries, idx, adcN = 100)
        .orderBy(col("q_id"), col("rn"))
    }),

    // SPARSE RAG RETRIEVAL through the persisted index: Rocchio PRF
    // (q_rag_prf's two-round flow) executed index-resident — round 1
    // scores the dictionary's seed terms over their posting shards, the
    // top-5 docs' TEXT is fetched (5 rows — a RAG system hydrates docs
    // anyway) and re-tokenized for the expansion terms, whose df comes
    // from the dictionary, and round 2 re-scores the 8-term query through
    // the same index. Shares q_rag_prf's oracle: the whole PRF stack
    // transfers onto the artifact with zero drift.
    "q_rag_sparse_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "ragsparse")
      val ti = graft.sources.TextIndex
      ti.build(s, Tables.documents(s, d).select(col("doc_id"), col("text")), idx)
      val dict = ti.terms(s, idx)
      val qterms = dict.where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(5)
        .localCheckpoint() // 5 rows
      val fb = ti.score(s, idx, qterms)
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      // pseudo-relevant doc-term vectors: hydrate 5 docs, re-tokenize —
      // bounded by the feedback set, never corpus-sized
      val fbTf = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .join(broadcast(fb), "doc_id")
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val expand = fbTf
        .join(qterms.select(col("t")), Seq("t"), "left_anti")
        .where(length(col("t")) >= 4)
        .groupBy(col("t")).agg(sum(col("tf")).as("w"))
        .orderBy(col("w").desc, col("t")).limit(3)
        .join(dict, "t").select(col("t"), col("df"))
      ti.score(s, idx, qterms.select(col("t"), col("df")).union(expand))
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10)
    }),

    // INCREMENTAL MAINTENANCE of the sparse index: the corpus store takes
    // a CDC batch (a doc-id range retires, fresh docs append), refresh
    // folds the CHANGE FEED — deletes re-tokenize from the feed's own
    // rows, df/nd/tl adjust by exact integer deltas, only touched shards
    // rewrite — and the post-refresh probe must equal a full recompute
    // over the head corpus, which is exactly what the oracle states. At
    // 100 TB this is how search keeps up with ingest: changed-docs cost,
    // never a re-index.
    "q_text_index_refresh" -> ((s, d) => {
      val ti = graft.sources.TextIndex
      val corpus = tmpIdx(d, "txtcorpus")
      val idx = tmpIdx(d, "txtidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val (nDocs, nShards) = graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN text STRING")
        docs.select(col("doc_id").as("k"), lit("d").as("grp"),
            lit(0L).as("amt_cents"), col("text"))
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        // 64-shard build (round-12 verdict #2): the shard count is a
        // build property now — refresh bytes track the delta's touched
        // shards out of 64, not a whole-store rewrite; results are
        // shard-count-invariant, so the oracle is unchanged
        s.sql(s"CALL graft.text_index_build('$corpus', '$idx', 64)").collect()
        // CDC: a doc-id range retires; fresh docs (known text) append
        s.sql("DELETE FROM graft.store WHERE k BETWEEN 10 AND 99")
        docs.where(col("doc_id").between(1, 50))
          .select((col("doc_id") + maxId).as("k"), lit("d").as("grp"),
            lit(0L).as("amt_cents"), col("text"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        val r = s.sql(s"CALL graft.text_index_refresh('$idx')").collect()(0)
        (r.getLong(0), r.getLong(1))
      }
      val top = Local(ti.probeTop(s, idx, topk = 10)
        .select(col("doc_id"), col("n_terms"), col("bm25_e4")), 10)
      (top ++ Seq(org.apache.spark.sql.Row(-1L,
        if (nDocs > 0 && nShards >= 1) 1L else 0L, 0L))) // z_incremental
        .toDF(s).orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // SPARSE-INDEX REBUILD POLICY — the arming lifecycle closed: a
    // CDC batch inserts a doc FAR longer than average, so the corpus
    // nd/tl ratio DROPS and the policy's internal refresh DISARMS the
    // impact bound (stored impacts can under-bound, top-k early
    // termination is off); `CALL graft.text_index_rebuild_if` sees the
    // disarmed flag and REBUILDS under the index's own persisted
    // configuration — re-quantizing every posting at the current ratio
    // re-arms the bound, and the post-rebuild probeTopN prunes files
    // again (z_pruned). A second call folds nothing and KEEPS. The
    // oracle replays the head-corpus top-k closed form (the mega-doc
    // reproduced via TRIM(REPEAT(...))) plus the three decision flags.
    "q_text_index_policy" -> ((s, d) => {
      val ti = graft.sources.TextIndex
      val corpus = tmpIdx(d, "tipcorpus")
      val idx = tmpIdx(d, "tipidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
      val (act1, act2, pruned, top) = graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN text STRING")
        docs.select(col("doc_id").as("k"), lit("d").as("grp"),
            lit(0L).as("amt_cents"), col("text"))
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        s.sql(s"CALL graft.text_index_build('$corpus', '$idx')").collect()
        // a 400-token doc: far above any tier's average length, so the
        // refresh inside the policy call sees the ratio drop and disarms
        import s.implicits._
        Seq((maxId + 1, "d", 0L, ("filler " * 400).trim))
          .toDF("k", "grp", "amt_cents", "text")
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        val r1 = s.sql(s"CALL graft.text_index_rebuild_if('$idx')").collect()(0)
        ti.lastTopNFiles = None
        val t = Local(ti.probeTopN(s, idx, topk = 10), 10)
        val p = ti.lastTopNFiles.exists { case (pl, tt) => pl >= 1 && pl < tt }
        val r2 = s.sql(s"CALL graft.text_index_rebuild_if('$idx')").collect()(0)
        (r1.getString(0), r2.getString(0), p, t)
      }
      (top ++ Seq(
        org.apache.spark.sql.Row(-1L, if (pruned) 1L else 0L),
        org.apache.spark.sql.Row(-2L, if (act1 == "rebuild") 1L else 0L),
        org.apache.spark.sql.Row(-3L, if (act2 == "keep") 1L else 0L)))
        .toDF(s).orderBy(col("bm25_e4").desc, col("doc_id"))
    }),

    // INDEX POLICIES UNDER `CALL graft.maintain` — the auto-maintenance
    // loop extended to DERIVED artifacts: a corpus table names its
    // indexes' policies as `graft.maintain.ann` ('skew:recall:path') /
    // `graft.maintain.text` (path) properties, and ONE maintain(path)
    // tick drives rebuild_if for each — refresh-fold, trigger check,
    // atomic rebuild only when tripped. The ann leg trips on skew 0
    // (always) then KEEPS at a huge threshold; the text leg disarms on
    // the mega-doc fold, rebuilds, then KEEPS. Post-maintenance probes
    // pin that the serving path survived the whole lifecycle. At 100 TB
    // this is the fleet scheduler's entire contract: paths in, healthy
    // tables AND indexes out, zero per-artifact arguments.
    "q_store_maintain_index" -> ((s, d) => {
      val annCorpus = tmpIdx(d, "mntacorpus")
      val aidx = tmpIdx(d, "mntaidx")
      val txtCorpus = tmpIdx(d, "mnttcorpus")
      val tidx = tmpIdx(d, "mnttidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      Seq(annCorpus, aidx, txtCorpus, tidx).foreach(p =>
        fsys.delete(new org.apache.hadoop.fs.Path(p), true))
      // dense leg: embeddings corpus + ANN index, policy = rebuild at any
      // skew (threshold 0), then keep at a threshold nothing trips
      graft.sources.Sources.withStorePath(s, annCorpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        Tables.embeddings(s, d).select(col("vec_id").as("k"),
            lit("e").as("grp"), lit(0L).as("amt_cents"),
            expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", annCorpus).save()
        s.sql(s"CALL graft.index_build('$annCorpus', '$aidx')").collect()
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.ann'='0:0:$aidx')")
      }
      def annRow(rows: Array[org.apache.spark.sql.Row]) =
        rows.find(_.getString(0) == "ann").get
      val a1 = annRow(s.sql(s"CALL graft.maintain('$annCorpus')").collect())
      graft.sources.Sources.withStorePath(s, annCorpus) {
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.ann'='100000000:0:$aidx')")
      }
      val a2 = annRow(s.sql(s"CALL graft.maintain('$annCorpus')").collect())
      // sparse leg: documents corpus + text index; the mega-doc drops the
      // nd/tl ratio so the policy's fold disarms and the tick rebuilds
      graft.sources.Sources.withStorePath(s, txtCorpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN text STRING")
        Tables.documents(s, d).select(col("doc_id").as("k"),
            lit("d").as("grp"), lit(0L).as("amt_cents"), col("text"))
          .repartitionByRange(4, col("k"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", txtCorpus).save()
        s.sql(s"CALL graft.text_index_build('$txtCorpus', '$tidx')").collect()
        val maxId = Tables.documents(s, d).agg(max(col("doc_id")))
          .collect()(0).getLong(0)
        import s.implicits._
        Seq((maxId + 1, "d", 0L, ("filler " * 400).trim))
          .toDF("k", "grp", "amt_cents", "text")
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", txtCorpus).save()
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.text'='$tidx')")
      }
      def txtRow(rows: Array[org.apache.spark.sql.Row]) =
        rows.find(_.getString(0) == "text").get
      val t1 = txtRow(s.sql(s"CALL graft.maintain('$txtCorpus')").collect())
      val t2 = txtRow(s.sql(s"CALL graft.maintain('$txtCorpus')").collect())
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      val probeRows = AnnIndex.probe(s, queries, aidx).count()
      import s.implicits._
      Seq(
        ("ann_m1_rebuild", if (a1.getString(1) == "rebuild") 1L else 0L),
        ("ann_m2_keep", if (a2.getString(1) == "keep") 1L else 0L),
        ("ann_probe_rows", probeRows),
        ("txt_m1_rebuild", if (t1.getString(1) == "rebuild") 1L else 0L),
        ("txt_m2_keep", if (t2.getString(1) == "keep") 1L else 0L),
        ("txt_postings", t2.getLong(3)))
        .toDF("step", "v").orderBy(col("step"))
    }),

    // MaxSim INDEX UNDER `CALL graft.maintain`: the corpus table names
    // its late-interaction index via `graft.maintain.maxsim`, and one
    // maintain(path) tick folds the change feed under the frozen cells
    // — first tick folds the CDC batch (tokens changed, partitions
    // rewritten in both token tables), second tick is a no-op, and the
    // post-maintenance PLAID probe still serves. The fleet-scheduler
    // contract extended to the multi-vector artifact.
    "q_store_maintain_maxsim" -> ((s, d) => {
      val corpus = tmpIdx(d, "mntmscorpus")
      val idx = tmpIdx(d, "mntmsidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        val all = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          lit("e").as("grp"), lit(0L).as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
        all.write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        graft.sources.MaxSimIndex.buildFromStore(s, corpus, idx)
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.maxsim'='$idx')")
        val mx = Tables.embeddings(s, d).agg(max(col("vec_id")))
          .collect()(0).getLong(0)
        s.sql("DELETE FROM graft.store WHERE k BETWEEN 30 AND 99")
        all.where(col("k").between(1, 50))
          .select((col("k") + mx + 1).as("k"), col("grp"),
                  col("amt_cents"), col("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
      }
      def msRow(rows: Array[org.apache.spark.sql.Row]) =
        rows.find(_.getString(0) == "maxsim").get
      val m1 = msRow(s.sql(s"CALL graft.maintain('$corpus')").collect())
      val m2 = msRow(s.sql(s"CALL graft.maintain('$corpus')").collect())
      val q = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val probeRows = graft.sources.MaxSimIndex.probe(s, q, idx).count()
      import s.implicits._
      Seq(
        ("m1_fold", if (m1.getLong(2) > 0) 1L else 0L),
        ("m1_parts", if (m1.getLong(3) >= 1) 1L else 0L),
        ("m2_noop", if (m2.getLong(2) == 0 && m2.getLong(3) == 0) 1L else 0L),
        ("probe_pos", if (probeRows >= 1) 1L else 0L))
        .toDF("step", "v").orderBy(col("step"))
    }),

    // MaxSim REBUILD POLICY driven to an automatic decision (the
    // q_index_policy posture for the late-interaction leg): the token
    // corpus takes SKEWED growth — one copy of token 0's vector per
    // existing id, so the whole batch lands in token 0's frozen cell —
    // and the maintain tick's 'max_skew_e4:path' policy folds the feed,
    // reads the manifest occupancy audit (the DECISION skew, replayed
    // exactly by the oracle from the frozen assignment over the head
    // corpus), trips the 1.5× threshold, and RE-SEEDS atomically via
    // the generation pointer. A second tick at a huge threshold KEEPS,
    // and the post-policy probe still serves.
    "q_maxsim_policy" -> ((s, d) => {
      val corpus = tmpIdx(d, "mspolcorpus")
      val idx = tmpIdx(d, "mspolidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      val (m1, m2) = graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        val all = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          lit("e").as("grp"), lit(0L).as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
        all.write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v1: the indexed generation
        graft.sources.MaxSimIndex.buildFromStore(s, corpus, idx)
        val mx = Tables.embeddings(s, d).agg(max(col("vec_id")))
          .collect()(0).getLong(0)
        val v0 = Tables.embeddings(s, d).where(col("vec_id") === 0)
          .select(expr("array_join(transform(embedding, x -> cast(x as string)), ',')"))
          .collect()(0).getString(0)
        all.select((col("k") + mx + 1).as("k"), col("grp"),
            col("amt_cents"), lit(v0).as("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v2: the skewed batch
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.maxsim'='15000:$idx')")
        def msRow() = s.sql(s"CALL graft.maintain('$corpus')").collect()
          .find(_.getString(0) == "maxsim").get
        val r1 = msRow()
        s.sql("ALTER TABLE graft.store SET TBLPROPERTIES(" +
          s"'graft.maintain.maxsim'='1000000000:$idx')")
        (r1, msRow())
      }
      val q = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val probeRows = graft.sources.MaxSimIndex.probe(s, q, idx).count()
      import s.implicits._
      Seq(
        ("m1_rebuild", if (m1.getString(1) == "rebuild") 1L else 0L),
        ("m2_keep", if (m2.getString(1) == "keep") 1L else 0L),
        ("probe_pos", if (probeRows >= 1) 1L else 0L),
        ("skew1", m1.getLong(2)))
        .toDF("step", "v").orderBy(col("step"))
    }),

    // AGE-MARGINED GENERATION GC (round-12 verdict #6, driven through
    // SQL): a rebuild supersedes gen-1, `CALL graft.index_expire` with a
    // margin keeps the just-superseded generation alive for in-flight
    // probes (dropped_fresh = 0), and only once its supersession stamp
    // ages past the margin does it collect (dropped_aged = 1) — while
    // the live generation keeps serving (probe_rows is the corpus-
    // derived 5 × |queries|).
    "q_index_expire" -> ((s, d) => {
      val idx = tmpIdx(d, "expire")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      AnnIndex.build(s, Tables.embeddings(s, d), idx) // gen-1
      AnnIndex.build(s, Tables.embeddings(s, d), idx) // gen-2 supersedes
      val fresh = s.sql(s"CALL graft.index_expire('$idx', ${3600L * 1000})")
        .collect()(0).getLong(0)
      val gen1Alive = fsys.exists(new org.apache.hadoop.fs.Path(s"$idx/gen-1"))
      AnnIndex.backdateStale(idx, "gen-1",
        System.currentTimeMillis - 7200L * 1000)
      val aged = s.sql(s"CALL graft.index_expire('$idx', ${3600L * 1000})")
        .collect()(0).getLong(0)
      val gen1Gone = !fsys.exists(new org.apache.hadoop.fs.Path(s"$idx/gen-1"))
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      val probeRows = AnnIndex.probe(s, queries, idx).count()
      import s.implicits._
      Seq(
        ("dropped_aged", aged),
        ("dropped_fresh", if (gen1Alive) fresh else -1L),
        ("gen1_gone", if (gen1Gone) 1L else 0L),
        ("probe_rows", probeRows)).toDF("step", "v").orderBy(col("step"))
    }),

    // HYBRID RETRIEVAL, INDEX-RESIDENT (round-12 verdict #9): dense (IVF
    // probe per query vector) and sparse (BM25 over the inverted index's
    // seed terms) fused by RECIPROCAL RANK — 1e6/(60+rank) integer
    // contributions, the standard RRF kernel in exact units. Both legs
    // read persisted artifacts only; the fusion itself is a join of two
    // bounded rankings (≤ 5/query + 20 global rows). The oracle composes
    // the two existing replay closed forms and the fusion arithmetic.
    "q_rag_hybrid_indexed" -> ((s, d) => {
      val aidx = tmpIdx(d, "hybdense")
      val tidx = tmpIdx(d, "hybsparse")
      AnnIndex.build(s, Tables.embeddings(s, d), aidx)
      graft.sources.TextIndex.build(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")), tidx)
      val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
      val dense = AnnIndex.probe(s, queries, aidx)
        .select(col("q_id"), col("n_id").as("doc_id"), col("rn"))
        .localCheckpoint() // ≤ 5 per query
      val wS = Window.orderBy(col("bm25_e4").desc, col("doc_id"))
      val sparse = graft.sources.TextIndex.probeTop(s, tidx, topk = 20)
        .withColumn("rs", row_number().over(wS))
        .select(col("doc_id"), col("rs"))
        .localCheckpoint() // 20 rows
      val qs = dense.select(col("q_id")).distinct()
      val cand = dense.select(col("q_id"), col("doc_id"))
        .union(qs.crossJoin(sparse.select(col("doc_id")))).distinct()
      val wF = Window.partitionBy(col("q_id"))
        .orderBy(col("fused_e6").desc, col("doc_id"))
      cand.join(dense, Seq("q_id", "doc_id"), "left")
        .join(sparse, Seq("doc_id"), "left")
        .withColumn("fused_e6",
          coalesce(expr("1000000L div (60 + rn)"), lit(0L)) +
          coalesce(expr("1000000L div (60 + rs)"), lit(0L)))
        .withColumn("frn", row_number().over(wF)).where(col("frn") <= 5)
        .select(col("q_id"), col("doc_id"), col("fused_e6"),
                col("frn").as("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // PQ MAINTENANCE (round-12 verdict #2): the compressed leg follows the
    // corpus. Build coarse + PQ from a corpus STORE, apply a CDC batch
    // (an id range retires, shifted copies append), refresh — which now
    // folds the change feed into BOTH postings and codes under the FROZEN
    // codebooks — and the post-refresh PQ probe must equal a frozen-
    // codebook rebuild over the head corpus, which is exactly what the
    // oracle replays (train on base, assign/encode head). Without the
    // fold this probe would silently ADC-rank dead vectors; with a
    // version mismatch probePq now refuses instead (spec-pinned).
    "q_sim_ivfpq_refresh" -> ((s, d) => {
      val corpus = tmpIdx(d, "pqrefcorpus")
      val idx = tmpIdx(d, "pqrefidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        val all = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          lit("e").as("grp"), lit(0L).as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
        all.write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v1: the indexed generation
        AnnIndex.buildFromStore(s, corpus, idx)
        AnnIndex.buildPqFromStore(s, idx)
        val mx = Tables.embeddings(s, d).agg(max(col("vec_id")))
          .collect()(0).getLong(0)
        s.sql("DELETE FROM graft.store WHERE k BETWEEN 10 AND 99")
        all.where(col("k").between(1, 50))
          .select((col("k") + mx + 1).as("k"), col("grp"),
                  col("amt_cents"), col("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        val (nKeys, nCells) = AnnIndex.refresh(s, idx)
        val queries = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 10)
        // 10 queries x the probe's default top 5
        val top = Local(AnnIndex.probePq(s, queries, idx), 10 * 5)
        (top ++ Seq(org.apache.spark.sql.Row(-1L, -1L,
          if (nKeys > 0 && nCells >= 1) 1 else 0, 0))) // z_incremental
          .toDF(s).orderBy(col("q_id"), col("rn"), col("n_id"))
      }
    }),

    // FILTERED LATE-INTERACTION SEARCH — "MaxSim top-k WHERE tenant=1",
    // completing the filtered-search symmetry across all three
    // retrieval legs (dense probeFiltered, sparse attrEq probes, and
    // now the multi-vector PLAID probe). The doc-level attribute (a
    // synthetic tenant id, d_id % 3) persists in BOTH token tables at
    // build; candidacy drops non-matching docs BEFORE any kernel work,
    // and refinement's bucket scans shrink with the filter. The oracle
    // is the maxsim_ivf replay with candidates tenant-restricted —
    // corpus-wide cells, filtered candidate set, exact kernel.
    "q_sim_maxsim_filtered" -> ((s, d) => {
      val idx = tmpIdx(d, "maxsimflt")
      val nz = TrainingOps.nzEmbeddings(s, d)
      val tokens = nz.where(col("vec_id") >= 20)
        .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
                col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
        .withColumn("attr", pmod(col("d_id"), lit(3)))
      graft.sources.MaxSimIndex.build(s, nz, tokens, idx, attr = true)
      val q = nz.where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      graft.sources.MaxSimIndex.probeFiltered(s, q, idx, 1L)
        .orderBy(col("q_id"), col("rn"))
    }),

    // MaxSim OCCUPANCY AUDIT — q_index_stats for the late-interaction
    // artifact: per-cell live TOKEN counts from the postings manifest
    // alone (zero data reads) plus the max/mean skew factor in e4
    // units. A token pile-up in one cell means stage-1 candidate
    // generation degenerates toward a scan for queries probing it —
    // this audit is how a PLAID operator notices before latency does.
    "q_maxsim_stats" -> ((s, d) => {
      val idx = tmpIdx(d, "msstats")
      val nz = TrainingOps.nzEmbeddings(s, d)
      val tokens = nz.where(col("vec_id") >= 20)
        .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
                col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      graft.sources.MaxSimIndex.build(s, nz, tokens, idx)
      val cells = graft.sources.MaxSimIndex.cellCounts(idx)
      val total = cells.map(_._2).sum
      val maxN = cells.map(_._2).max
      val skewE4 = maxN * 10000L * cells.size / total
      import s.implicits._
      cells.toDF("c_id", "n_tokens")
        .unionByName(Seq((-1L, skewE4)).toDF("c_id", "n_tokens"))
        .orderBy(col("c_id"))
    }),

    // RECALL OF THE PERSISTED MaxSim PROBE — the q_ann_recall posture
    // for the late-interaction artifact: recall@5 of the index-resident
    // PLAID probe against the exact MaxSim kernel, per query. The
    // persisted probe reproduces the retrain-per-query two-stage
    // pipeline bit for bit (candidate-then-exact), so this SHARES
    // q_ann_recall_maxsim's oracle verbatim — and pins that recall
    // survives the disk round-trip (1.0 at both tiers after the
    // round-21 candidate-then-exact fix).
    "q_ann_recall_maxsim_indexed" -> ((s, d) => {
      val idx = tmpIdx(d, "recallmaxsim")
      val nz = TrainingOps.nzEmbeddings(s, d)
      val tokens = nz.where(col("vec_id") >= 20)
        .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
                col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      graft.sources.MaxSimIndex.build(s, nz, tokens, idx)
      val q = nz.where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val exact = TrainingOps.queries("q_sim_maxsim")(s, d)
        .select(col("q_id"), col("d_id")).localCheckpoint() // ≤ 5/query
      val ivf = graft.sources.MaxSimIndex.probe(s, q, idx)
        .select(col("q_id"), col("d_id"))
      val hits = exact.join(ivf, Seq("q_id", "d_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
                expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
        .orderBy(col("q_id"))
    }),

    // MaxSim INDEX MAINTENANCE: the late-interaction artifact follows
    // its corpus. Build from a token store, apply a CDC batch (an id
    // range retires, shifted copies arrive as new docs), refresh — the
    // fold rewrites only touched cell partitions and doc buckets under
    // the FROZEN cells — and the post-refresh PLAID probe must equal
    // the frozen-cells rebuild over the head corpus, which is exactly
    // what the oracle replays (seeds from the indexed base, assignment
    // + kernel over the head). Without the fold the probe would rank
    // dead tokens and miss the new docs.
    "q_sim_maxsim_refresh" -> ((s, d) => {
      val corpus = tmpIdx(d, "msrefcorpus")
      val idx = tmpIdx(d, "msrefidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        val all = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          lit("e").as("grp"), lit(0L).as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
        all.write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v1: the indexed generation
        graft.sources.MaxSimIndex.buildFromStore(s, corpus, idx)
        val mx = Tables.embeddings(s, d).agg(max(col("vec_id")))
          .collect()(0).getLong(0)
        s.sql("DELETE FROM graft.store WHERE k BETWEEN 30 AND 99")
        all.where(col("k").between(1, 50))
          .select((col("k") + mx + 1).as("k"), col("grp"),
                  col("amt_cents"), col("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save()
        val (nKeys, nParts) = graft.sources.MaxSimIndex.refresh(s, idx)
        val q = TrainingOps.nzEmbeddings(s, d).where(col("vec_id") < 20)
          .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                  col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
        // 2 multi-vector queries x the probe's default top 5
        val top = Local(graft.sources.MaxSimIndex.probe(s, q, idx), 2 * 5)
        (top ++ Seq(org.apache.spark.sql.Row(-1L, -1L,
          if (nKeys > 0 && nParts >= 1) 1L else 0L, 0))) // z_incremental
          .toDF(s).orderBy(col("q_id"), col("rn"))
      }
    }),

    // REBUILD POLICY driven to an automatic decision (round-11 verdict #7):
    // the corpus store takes SKEWED growth — every new vector is a copy of
    // vector 0, so the whole batch lands in ONE frozen cell — and `CALL
    // graft.index_rebuild_if` folds the feed, reads the occupancy audit
    // (decision skew ≈ 2-6× mean, exact integers the oracle replays from
    // the frozen assignment), trips the 1.5× threshold, and RETRAINS —
    // atomically, via the generation pointer. Output pins the decision
    // INPUT (skew under the frozen codebook), the ACTION, and the
    // post-decision occupancy (retrained cells + their skew, back near
    // uniform) — all from one DuckDB replay of both assignment passes.
    "q_index_policy" -> ((s, d) => {
      val corpus = tmpIdx(d, "polcorpus")
      val idx = tmpIdx(d, "polidx")
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(corpus), true)
      fsys.delete(new org.apache.hadoop.fs.Path(idx), true)
      graft.sources.Sources.withStorePath(s, corpus) {
        s.sql("ALTER TABLE graft.store ADD COLUMN emb STRING")
        val all = Tables.embeddings(s, d).select(col("vec_id").as("k"),
          lit("e").as("grp"), lit(0L).as("amt_cents"),
          expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
        all.write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v1
        s.sql(s"CALL graft.index_build('$corpus', '$idx')").collect()
        // SKEWED GROWTH: one copy of vector 0 per existing id — the whole
        // batch assigns to vec 0's frozen cell
        val mx = Tables.embeddings(s, d).agg(max(col("vec_id")))
          .collect()(0).getLong(0)
        val v0 = Tables.embeddings(s, d).where(col("vec_id") === 0)
          .select(expr("array_join(transform(embedding, x -> cast(x as string)), ',')"))
          .collect()(0).getString(0)
        all.select((col("k") + mx + 1).as("k"), col("grp"),
            col("amt_cents"), lit(v0).as("emb"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", corpus).save() // v2
        val r = s.sql(s"CALL graft.index_rebuild_if('$idx', 15000)")
          .collect()(0)
        val rebuilt = r.getString(0) == "rebuild"
        val decisionSkew = r.getLong(1)
        val cells = AnnIndex.cellCounts(idx) // post-decision generation
        val total = cells.map(_._2).sum
        val skew2 = cells.map(_._2).max * 10000L * cells.size / total
        import s.implicits._
        (cells ++ Seq((-1L, skew2), (-2L, if (rebuilt) 1L else 0L),
          (-3L, decisionSkew)))
          .toDF("c_id", "n_vectors").orderBy(col("c_id"))
      }
    }),
  )

  /** The training-replay chain over an arbitrary corpus CTE `src`
    * (vec_id, embedding), CTE names prefixed with `p` — q_index_policy
    * replays training TWICE (the frozen generation on the base corpus,
    * the retrain on the grown one). Ends with `<p>asg (n_id, bucket)`. */
  private def replayOn(src: String, p: String): String = {
    val cosES = cosQ(s"${p}e.embedding", s"${p}sd.c_emb")
    val cosEC1 = cosQ(s"${p}e.embedding", s"${p}c1.c_emb")
    s"""${p}e AS (SELECT vec_id, embedding FROM $src
       |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
       |${p}sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM ${p}e
       |           WHERE vec_id % ${TrainingOps.strideSql(s"${p}e")} = 0),
       |${p}a1 AS (SELECT n_id, n_emb, bucket FROM (
       |    SELECT ${p}e.vec_id AS n_id, ${p}e.embedding AS n_emb,
       |      ${p}sd.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY ${p}e.vec_id
       |        ORDER BY $cosES DESC, ${p}sd.c_id) AS arn
       |    FROM ${p}e CROSS JOIN ${p}sd) t WHERE arn = 1),
       |${p}dims AS (SELECT bucket, generate_subscripts(n_emb, 1) AS idx,
       |                UNNEST(n_emb) AS v FROM ${p}a1),
       |${p}upd AS (SELECT bucket, idx,
       |          CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sv,
       |          COUNT(*) AS n FROM ${p}dims GROUP BY bucket, idx),
       |${p}c1 AS (SELECT bucket AS c_id,
       |          LIST(CAST((sv / 1048576.0) / n AS REAL) ORDER BY idx) AS c_emb
       |       FROM ${p}upd GROUP BY bucket),
       |${p}asg AS (SELECT n_id, bucket FROM (
       |    SELECT ${p}e.vec_id AS n_id, ${p}c1.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY ${p}e.vec_id
       |        ORDER BY $cosEC1 DESC, ${p}c1.c_id) AS arn
       |    FROM ${p}e CROSS JOIN ${p}c1) t WHERE arn = 1)""".stripMargin
  }

  /** Query formulation shared by the phrase/proximity probes: the
    * corpus's most frequent adjacent pair of len≥4 tokens (deterministic
    * tie-break) — one scan + a pair aggregate, bounded output. */
  private def topBigram(s: SparkSession, d: String): Array[String] =
    Tables.documents(s, d)
      .select(split(trim(lower(col("text"))), " ").as("toks"))
      .select(explode(expr(
        """case when size(toks) < 2 then array()
          |else transform(sequence(0, size(toks) - 2),
          |  i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
          |end""".stripMargin)).as("pr"))
      .where(length(element_at(split(col("pr"), " "), 1)) >= 4 &&
             length(element_at(split(col("pr"), " "), 2)) >= 4)
      .groupBy(col("pr")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pr")).limit(1)
      .collect()(0).getString(0).split(" ", 2)

  /** kmeans-cell replay composed with q_sim_pq's code/ADC chain — cells,
    * codes, candidates, and the re-ranked top-5 all reproduce; `adcN`
    * parameterizes the ADC candidate cut (20 = the default probe, 100 =
    * the wide refinement), ONE closed form for both widths. */
  private def pqProbeOracle(adcN: Int): String = pqProbeOracle(adcN, "")

  /** `candJoin` restricts the probed-cell candidate set BEFORE the ADC
    * ranking (the filtered-search pre-filter — appended to the `cells`
    * CTE's join chain); empty = the unfiltered probe. */
  private def pqProbeOracle(adcN: Int, candJoin: String): String = {
    val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
    val cosRR = cosQ("qe.embedding", "ne.embedding")
    s"""WITH $trainReplayCtes,
       |prb AS (SELECT q_id, bucket FROM (
       |    SELECT q.q_id, c1.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
       |    FROM q CROSS JOIN c1) t WHERE prn <= 2),
       |sides AS (SELECT vec_id, s,
       |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
       |  FROM e, (SELECT UNNEST(RANGE(0, 2)) AS s)),
       |cbq AS (SELECT vec_id AS c_id, s, sub AS c_sub FROM sides
       |        WHERE vec_id BETWEEN 100 AND 107),
       |enc AS (SELECT vec_id AS n_id, s, c_id AS code FROM (
       |  SELECT v.vec_id, v.s, c.c_id,
       |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
       |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.c_sub),
       |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), c.c_id) AS rn
       |  FROM sides v JOIN cbq c ON v.s = c.s) t WHERE rn = 1),
       |dtab AS (SELECT qs.vec_id AS q_id, c.s, c.c_id,
       |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qs.sub, c.c_sub),
       |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
       |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT) AS d_e6
       |  FROM sides qs JOIN cbq c ON qs.s = c.s WHERE qs.vec_id < 10),
       |cells AS (SELECT DISTINCT prb.q_id, asg.n_id
       |          FROM prb JOIN asg ON prb.bucket = asg.bucket$candJoin),
       |adc AS (SELECT d.q_id, enc.n_id, SUM(d.d_e6) AS adc
       |        FROM cells
       |        JOIN enc ON enc.n_id = cells.n_id
       |        JOIN dtab d ON enc.s = d.s AND enc.code = d.c_id
       |                   AND d.q_id = cells.q_id
       |        GROUP BY d.q_id, enc.n_id),
       |cand AS (SELECT q_id, n_id FROM (
       |  SELECT q_id, n_id,
       |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
       |  FROM adc) t WHERE rn <= $adcN),
       |scored AS (SELECT cand.q_id, cand.n_id, $cosRR AS score
       |  FROM cand JOIN e qe ON qe.vec_id = cand.q_id
       |            JOIN e ne ON ne.vec_id = cand.n_id)
       |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
       |  SELECT q_id, n_id, score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY score DESC, n_id) AS INTEGER) AS rn
       |  FROM scored) t
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  override def oracles: Map[String, String] = Map(

    // both assignment passes replayed: the frozen generation's occupancy
    // under the skewed growth yields the DECISION skew; the retrain's
    // occupancy is the post-decision state; the threshold is the literal
    "q_index_policy" -> {
      val cosHF = cosQ("he.embedding", "fc1.c_emb")
      s"""WITH ${replayOn("embeddings", "f")},
         |mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
         |copies AS (SELECT e2.vec_id + mx.m + 1 AS vec_id, e0.embedding
         |  FROM embeddings e2, mx,
         |       (SELECT embedding FROM embeddings WHERE vec_id = 0) e0),
         |head AS (SELECT vec_id, embedding FROM embeddings
         |         UNION ALL SELECT vec_id, embedding FROM copies),
         |fasg2 AS (SELECT n_id, bucket FROM (
         |    SELECT he.vec_id AS n_id, fc1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY he.vec_id
         |        ORDER BY $cosHF DESC, fc1.c_id) AS arn
         |    FROM (SELECT vec_id, embedding FROM head
         |          WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |            x -> ABS(CAST(x AS DOUBLE)))) > 0) he
         |    CROSS JOIN fc1) t WHERE arn = 1),
         |fcells AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
         |           FROM fasg2 GROUP BY bucket),
         |fskew AS (SELECT CAST(MAX(n) AS BIGINT) * 10000
         |            * CAST(COUNT(*) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS s
         |          FROM fcells),
         |${replayOn("head", "r")},
         |rcells AS (SELECT bucket AS c_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
         |           FROM rasg GROUP BY bucket),
         |rskew AS (SELECT CAST(MAX(n_vectors) AS BIGINT) * 10000
         |            * CAST(COUNT(*) AS BIGINT) // CAST(SUM(n_vectors) AS BIGINT) AS s
         |          FROM rcells)
         |SELECT c_id, n_vectors FROM (
         |  SELECT c_id, n_vectors FROM rcells
         |  UNION ALL SELECT -1, (SELECT s FROM rskew)
         |  UNION ALL SELECT -2, CASE WHEN (SELECT s FROM fskew) > 15000
         |                            THEN 1 ELSE 0 END
         |  UNION ALL SELECT -3, (SELECT s FROM fskew)) t
         |ORDER BY c_id""".stripMargin
    },

    // probing the persisted index == the retrain-per-query pipeline
    "q_sim_ivf_indexed" -> TrainingOps.simIvfKmeansOracle,

    // the persisted MaxSim artifact serves the retrain-per-query
    // pipeline's results losslessly — ONE oracle, shared verbatim
    "q_sim_maxsim_indexed" -> TrainingOps.oracles("q_sim_maxsim_ivf"),

    // the persisted probe == the retrain pipeline, so the recall replay
    // is shared verbatim
    "q_ann_recall_maxsim_indexed" ->
      TrainingOps.oracles("q_ann_recall_maxsim"),

    // the maxsim_ivf replay with candidates tenant-restricted: the
    // filter applies at candidacy (the pre-kernel drop), stats and
    // cells stay corpus-wide
    "q_sim_maxsim_filtered" -> {
      val cosTS = cosQ("t.n_emb", "sd.c_emb")
      val cosQS = cosQ("q.q_emb", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |       FROM e WHERE vec_id % ${TrainingOps.strideSql("e")} = 0),
         |t AS (SELECT vec_id AS n_id, vec_id // 10 AS d_id,
         |        embedding AS n_emb, nrm AS n_nrm FROM e WHERE vec_id >= 20),
         |asg AS (SELECT n_id, d_id, n_emb, n_nrm, c_id AS bucket FROM (
         |    SELECT t.n_id, t.d_id, t.n_emb, t.n_nrm, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY t.n_id
         |        ORDER BY $cosTS DESC, sd.c_id) AS arn
         |    FROM t CROSS JOIN sd) x WHERE arn = 1),
         |q AS (SELECT vec_id // 10 AS q_id, vec_id AS qt,
         |        embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 20),
         |qpr AS (SELECT q_id, c_id AS bucket FROM (
         |    SELECT q.q_id, q.qt, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qt
         |        ORDER BY $cosQS DESC, sd.c_id) AS prn
         |    FROM q CROSS JOIN sd) x WHERE prn <= 4 GROUP BY q_id, c_id),
         |cand AS (SELECT DISTINCT qpr.q_id, asg.d_id
         |         FROM qpr JOIN asg ON asg.bucket = qpr.bucket
         |         WHERE asg.d_id % 3 = 1),
         |pair AS (SELECT q.q_id, q.qt, t.d_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (q_nrm * n_nrm) * 1000000) AS BIGINT) AS cos_e6
         |  FROM q JOIN cand ON cand.q_id = q.q_id
         |  JOIN t ON t.d_id = cand.d_id),
         |ms AS (SELECT q_id, d_id, CAST(SUM(m) AS BIGINT) AS maxsim_e6 FROM (
         |    SELECT q_id, qt, d_id, MAX(cos_e6) AS m FROM pair
         |    GROUP BY 1, 2, 3) x GROUP BY 1, 2),
         |r AS (SELECT q_id, d_id, maxsim_e6,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY maxsim_e6 DESC, d_id) AS rn FROM ms)
         |SELECT q_id, d_id, maxsim_e6, CAST(rn AS INT) AS rn FROM r
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // decision flags + the DECISION skew replayed: frozen base-corpus
    // seeds, assignment of the skew-grown head, occupancy arithmetic
    "q_maxsim_policy" -> {
      val cosHS = cosQ("h.embedding", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e
         |       WHERE vec_id % ${TrainingOps.strideSql("e")} = 0),
         |mxx AS (SELECT MAX(vec_id) AS m FROM embeddings),
         |copies AS (SELECT e2.vec_id + mxx.m + 1 AS vec_id, e0.embedding
         |  FROM embeddings e2, mxx,
         |       (SELECT embedding FROM embeddings WHERE vec_id = 0) e0),
         |head AS (SELECT vec_id, embedding FROM e
         |         UNION ALL
         |         SELECT vec_id, embedding FROM copies
         |         WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |           x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |asg AS (SELECT n_id, bucket FROM (
         |    SELECT h.vec_id AS n_id, sd.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY h.vec_id
         |        ORDER BY $cosHS DESC, sd.c_id) AS arn
         |    FROM head h CROSS JOIN sd) x WHERE arn = 1),
         |cells AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n
         |          FROM asg GROUP BY bucket),
         |skew AS (SELECT CAST(MAX(n) AS BIGINT) * 10000
         |           * CAST(COUNT(*) AS BIGINT) // CAST(SUM(n) AS BIGINT) AS s
         |         FROM cells)
         |SELECT step, v FROM (
         |  SELECT 'm1_rebuild' AS step, CAST(1 AS BIGINT) AS v
         |  UNION ALL SELECT 'm2_keep', 1
         |  UNION ALL SELECT 'probe_pos', 1
         |  UNION ALL SELECT 'skew1', (SELECT s FROM skew)) z
         |ORDER BY step""".stripMargin
    },

    // seeds-only assignment replayed over the corpus tokens; counts and
    // the skew factor are exact integers
    "q_maxsim_stats" -> {
      val cosTS = cosQ("t.n_emb", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e
         |       WHERE vec_id % ${TrainingOps.strideSql("e")} = 0),
         |t AS (SELECT vec_id AS n_id, embedding AS n_emb FROM e
         |      WHERE vec_id >= 20),
         |asg AS (SELECT n_id, bucket FROM (
         |    SELECT t.n_id, sd.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY t.n_id
         |        ORDER BY $cosTS DESC, sd.c_id) AS arn
         |    FROM t CROSS JOIN sd) x WHERE arn = 1),
         |cells AS (SELECT bucket AS c_id, CAST(COUNT(*) AS BIGINT) AS n_tokens
         |          FROM asg GROUP BY bucket),
         |agg AS (SELECT CAST(MAX(n_tokens) AS BIGINT) AS mx,
         |               CAST(SUM(n_tokens) AS BIGINT) AS tot,
         |               CAST(COUNT(*) AS BIGINT) AS nc FROM cells)
         |SELECT c_id, n_tokens FROM (
         |  SELECT c_id, n_tokens FROM cells
         |  UNION ALL SELECT -1, mx * 10000 * nc // tot FROM agg) z
         |ORDER BY c_id""".stripMargin
    },

    // the decision flags are structural constants: the CDC batch always
    // changes tokens (fold > 0, partitions >= 1), the second tick finds
    // nothing, the probe serves
    "q_store_maintain_maxsim" ->
      """SELECT step, v FROM (
        |  SELECT 'm1_fold' AS step, CAST(1 AS BIGINT) AS v
        |  UNION ALL SELECT 'm1_parts', 1
        |  UNION ALL SELECT 'm2_noop', 1
        |  UNION ALL SELECT 'probe_pos', 1) t
        |ORDER BY step""".stripMargin,

    // refresh == frozen rebuild, late-interaction edition: seeds from
    // the BASE corpus (the indexed generation), token assignment +
    // candidates + the exact kernel over the HEAD corpus (retired range
    // gone, shifted copies in as new docs) — the closed form of "fold
    // the feed under the frozen cells"
    "q_sim_maxsim_refresh" -> {
      val cosHS = TrainingOps.duckCos("h.embedding", "sd.c_emb")
      val cosQS = TrainingOps.duckCos("q.q_emb", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e
         |       WHERE vec_id % ${TrainingOps.strideSql("e")} = 0),
         |mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
         |head AS (SELECT vec_id, embedding, nrm FROM e
         |           WHERE vec_id NOT BETWEEN 30 AND 99
         |         UNION ALL
         |         SELECT e2.vec_id + mx.m + 1, e2.embedding, e2.nrm
         |         FROM e e2, mx WHERE e2.vec_id BETWEEN 1 AND 50),
         |asg AS (SELECT n_id, d_id, n_emb, n_nrm, c_id AS bucket FROM (
         |    SELECT h.vec_id AS n_id, h.vec_id // 10 AS d_id,
         |      h.embedding AS n_emb, h.nrm AS n_nrm, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY h.vec_id
         |        ORDER BY $cosHS DESC, sd.c_id) AS arn
         |    FROM head h CROSS JOIN sd) x WHERE arn = 1),
         |q AS (SELECT vec_id // 10 AS q_id, vec_id AS qt,
         |        embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 20),
         |qpr AS (SELECT q_id, c_id AS bucket FROM (
         |    SELECT q.q_id, q.qt, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qt
         |        ORDER BY $cosQS DESC, sd.c_id) AS prn
         |    FROM q CROSS JOIN sd) x WHERE prn <= 4 GROUP BY q_id, c_id),
         |cand AS (SELECT DISTINCT qpr.q_id, asg.d_id
         |         FROM qpr JOIN asg ON asg.bucket = qpr.bucket),
         |pair AS (SELECT q.q_id, q.qt, a.d_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (q_nrm * n_nrm) * 1000000) AS BIGINT) AS cos_e6
         |  FROM q JOIN cand ON cand.q_id = q.q_id
         |  JOIN asg a ON a.d_id = cand.d_id),
         |ms AS (SELECT q_id, d_id, CAST(SUM(m) AS BIGINT) AS maxsim_e6 FROM (
         |    SELECT q_id, qt, d_id, MAX(cos_e6) AS m FROM pair
         |    GROUP BY 1, 2, 3) x GROUP BY 1, 2),
         |r AS (SELECT q_id, d_id, maxsim_e6,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY maxsim_e6 DESC, d_id) AS rn FROM ms)
         |SELECT q_id, d_id, maxsim_e6, CAST(rn AS INT) AS rn FROM r
         |WHERE rn <= 5
         |UNION ALL SELECT -1, -1, 1, 0
         |ORDER BY q_id, rn""".stripMargin
    },

    // the same training replay, candidates restricted by the persisted
    // metadata attribute BEFORE ranking (post-filter within probed cells)
    "q_sim_ivf_filtered" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("f.q_emb", "f.n_emb")
      s"""WITH $trainReplayCtes,
         |pr AS (SELECT q_id, q_emb, bucket FROM (
         |    SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |    FROM q CROSS JOIN c1) t WHERE prn <= 2),
         |fcand AS (SELECT pr.q_id, pr.q_emb, asg.n_id, asg.n_emb
         |  FROM asg JOIN pr ON asg.bucket = pr.bucket
         |  JOIN embeddings lb ON lb.vec_id = asg.n_id AND lb.label = 3)
         |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
         |  SELECT f.q_id, f.n_id, $cosQN AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY f.q_id
         |      ORDER BY $cosQN DESC, f.n_id) AS INTEGER) AS rn
         |  FROM fcand f) t
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    },

    // the persisted sparse index == the per-query tf/df recompute —
    // q_bm25's oracle SHARED verbatim (the dense family's contract)
    "q_bm25_indexed" -> TextAnalysis.oracles("q_bm25"),

    // the whole PRF stack on the artifact — q_rag_prf's oracle verbatim
    "q_rag_sparse_indexed" -> TextAnalysis.oracles("q_rag_prf"),

    // conjunctive retrieval: the disjunctive scoring chain gated on
    // n_terms = |query| before the top-k
    "q_bm25_and" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qt AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |       ORDER BY df DESC, t LIMIT 2),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qt USING (t) JOIN dlen USING (doc_id), stats),
        |agg AS (SELECT doc_id, COUNT(*) AS n_terms,
        |          CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |        FROM sc GROUP BY doc_id)
        |SELECT doc_id, bm25_e4 FROM agg WHERE n_terms = 2
        |ORDER BY bm25_e4 DESC, doc_id LIMIT 15""".stripMargin,

    // same term choice (df desc over len≥6), same first-position, same
    // edge-clamped window via end-INCLUSIVE list_slice
    "q_bm25_snippet" ->
      """WITH sp AS (SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks
        |            FROM documents),
        |tok AS (SELECT doc_id, UNNEST(toks) AS t,
        |          generate_subscripts(toks, 1) AS p0 FROM sp),
        |qt AS (SELECT t FROM (
        |    SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok
        |    WHERE LEN(t) >= 6 GROUP BY t) x
        |  ORDER BY df DESC, t LIMIT 1),
        |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
        |           CAST(MIN(p0) AS BIGINT) AS p
        |         FROM tok JOIN qt USING (t) GROUP BY doc_id
        |         ORDER BY tf DESC, doc_id LIMIT 3)
        |SELECT h.doc_id, h.tf, h.p,
        |  ARRAY_TO_STRING(LIST_SLICE(sp.toks,
        |    CAST(GREATEST(h.p - 2, 1) AS BIGINT),
        |    CAST(LEAST(h.p + 2, LEN(sp.toks)) AS BIGINT)), ' ') AS snip
        |FROM hits h JOIN sp USING (doc_id)
        |ORDER BY tf DESC, doc_id""".stripMargin,

    // the island merge replayed as the same gaps-and-islands window
    // chain; df ranks terms by distinct docs, exactly the dictionary
    "q_bm25_snippet_multi" ->
      """WITH sp AS (SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks
        |            FROM documents),
        |tok AS (SELECT doc_id, UNNEST(toks) AS t,
        |          generate_subscripts(toks, 1) AS p0 FROM sp),
        |qt AS (SELECT t FROM (
        |    SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok
        |    WHERE LEN(t) >= 6 GROUP BY t) x
        |  ORDER BY df DESC, t LIMIT 2),
        |hits AS (SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf,
        |           CAST(MIN(p0) AS BIGINT) AS p
        |         FROM tok JOIN qt USING (t) GROUP BY doc_id, t),
        |top AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot_tf
        |        FROM hits GROUP BY doc_id
        |        ORDER BY tot_tf DESC, doc_id LIMIT 3),
        |pts AS (SELECT h.doc_id, h.p FROM hits h JOIN top USING (doc_id)),
        |fl AS (SELECT doc_id, p,
        |         CASE WHEN LAG(p) OVER w IS NULL THEN 1
        |              WHEN p - 2 > LAG(p) OVER w + 2 + 1 THEN 1
        |              ELSE 0 END AS nf
        |       FROM pts WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        |isla AS (SELECT doc_id, p, CAST(SUM(nf) OVER (PARTITION BY doc_id
        |           ORDER BY p ROWS UNBOUNDED PRECEDING) AS BIGINT) AS isl
        |         FROM fl),
        |agg AS (SELECT doc_id, isl, CAST(MIN(p) AS BIGINT) AS p0,
        |          CAST(MAX(p) AS BIGINT) AS p1,
        |          CAST(COUNT(*) AS BIGINT) AS n_pts
        |        FROM isla GROUP BY doc_id, isl)
        |SELECT a.doc_id, t.tot_tf, a.isl, a.n_pts,
        |  ARRAY_TO_STRING(LIST_SLICE(sp.toks,
        |    CAST(GREATEST(a.p0 - 2, 1) AS BIGINT),
        |    CAST(LEAST(a.p1 + 2, LEN(sp.toks)) AS BIGINT)), ' ') AS snip
        |FROM agg a JOIN top t USING (doc_id) JOIN sp USING (doc_id)
        |ORDER BY doc_id, isl""".stripMargin,

    // WAND pruning == the plain OR scoring: one closed form (no per-doc
    // term gate — any matching term ranks), the z row is the I/O sanity
    "q_bm25_or" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qt AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |       ORDER BY df DESC, t LIMIT 3),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qt USING (t) JOIN dlen USING (doc_id), stats),
        |top AS (SELECT doc_id, CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |        FROM sc GROUP BY doc_id
        |        ORDER BY bm25_e4 DESC, doc_id LIMIT 15)
        |SELECT doc_id, bm25_e4 FROM top
        |UNION ALL SELECT -1, 1
        |ORDER BY bm25_e4 DESC, doc_id""".stripMargin,

    // the OR closed form restricted to the tenant's docs — corpus-wide
    // stats (the index is built over everything; the filter only drops
    // candidates), per-tenant top-k
    "q_bm25_filtered" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qt AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |       ORDER BY df DESC, t LIMIT 3),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qt USING (t) JOIN dlen USING (doc_id), stats),
        |top AS (SELECT doc_id, CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |        FROM sc WHERE doc_id % 4 = 1 GROUP BY doc_id
        |        ORDER BY bm25_e4 DESC, doc_id LIMIT 15)
        |SELECT doc_id, bm25_e4 FROM top
        |UNION ALL SELECT -1, 1
        |ORDER BY bm25_e4 DESC, doc_id""".stripMargin,

    // rank-safe early termination == the full single-term top-k: one
    // closed form, the pruning is purely an I/O fact (the z row)
    "q_bm25_topn" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qt AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |       ORDER BY df DESC, t LIMIT 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS bm25_e4
        |  FROM tf JOIN qt USING (t) JOIN dlen USING (doc_id), stats)
        |SELECT doc_id, bm25_e4 FROM (
        |  SELECT doc_id, bm25_e4 FROM sc
        |  ORDER BY bm25_e4 DESC, doc_id LIMIT 10) t
        |UNION ALL SELECT -1, 1
        |ORDER BY bm25_e4 DESC, doc_id""".stripMargin,

    // phrase semantics as a closed form: the top len≥4 bigram from the
    // raw token stream, then per-doc adjacent-occurrence counts — what
    // the positional postings' p/p+1 intersection computes
    "q_bm25_phrase" ->
      """WITH tk AS (SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ts
        |            FROM documents),
        |bp AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(
        |         RANGE(0, GREATEST(LEN(ts) - 1, 0)),
        |         j -> ts[CAST(j + 1 AS INT)] || ' ' || ts[CAST(j + 2 AS INT)])) AS pr
        |       FROM tk),
        |bf AS (SELECT doc_id, pr FROM bp
        |       WHERE LEN(STRING_SPLIT(pr, ' ')[1]) >= 4
        |         AND LEN(STRING_SPLIT(pr, ' ')[2]) >= 4),
        |top AS (SELECT pr FROM (SELECT pr, COUNT(*) AS c FROM bf GROUP BY pr
        |        ORDER BY c DESC, pr LIMIT 1) t)
        |SELECT bf.doc_id, CAST(COUNT(*) AS BIGINT) AS n_occ
        |FROM bf JOIN top ON bf.pr = top.pr
        |GROUP BY bf.doc_id ORDER BY bf.doc_id""".stripMargin,

    // proximity closed form: same top bigram, matches counted as
    // DISTINCT t1 positions with a t2 within (p, p+3] — the index-side
    // filter/exists over position lists, replayed relationally
    "q_bm25_prox" ->
      """WITH tk AS (SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS ts
        |            FROM documents),
        |tp AS (SELECT doc_id, UNNEST(ts) AS t,
        |              generate_subscripts(ts, 1) AS p FROM tk),
        |bp AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(
        |         RANGE(0, GREATEST(LEN(ts) - 1, 0)),
        |         j -> ts[CAST(j + 1 AS INT)] || ' ' || ts[CAST(j + 2 AS INT)])) AS pr
        |       FROM tk),
        |bf AS (SELECT doc_id, pr FROM bp
        |       WHERE LEN(STRING_SPLIT(pr, ' ')[1]) >= 4
        |         AND LEN(STRING_SPLIT(pr, ' ')[2]) >= 4),
        |top AS (SELECT STRING_SPLIT(pr, ' ')[1] AS w1,
        |               STRING_SPLIT(pr, ' ')[2] AS w2
        |        FROM (SELECT pr, COUNT(*) AS c FROM bf GROUP BY pr
        |              ORDER BY c DESC, pr LIMIT 1) t)
        |SELECT a.doc_id, CAST(COUNT(DISTINCT a.p) AS BIGINT) AS n_occ
        |FROM tp a JOIN tp b ON a.doc_id = b.doc_id
        |  AND b.p > a.p AND b.p <= a.p + 3
        |CROSS JOIN top
        |WHERE a.t = top.w1 AND b.t = top.w2
        |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin,

    // the analyzer serialized as literals (the LSH-seed technique):
    // stopwords + min length filter the token stream BEFORE tf/df/dl/
    // nd/tl, so every stat — and every score — is over analyzed tokens
    "q_bm25_analyzed" ->
      """WITH tok AS (
        |  SELECT doc_id, t FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |    FROM documents) r
        |  WHERE LEN(t) >= 4 AND t NOT IN ('join', 'hash', 'scan')),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qterms AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |           ORDER BY df DESC, t LIMIT 5),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qterms USING (t) JOIN dlen USING (doc_id), stats)
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |FROM sc GROUP BY doc_id
        |ORDER BY bm25_e4 DESC, doc_id LIMIT 20""".stripMargin,

    // the policy's observable: post-rebuild top-k == the head-corpus
    // (documents + the 400-token mega-doc) single-term closed form, with
    // the pruned/rebuild/keep decisions as flags — all deterministic
    "q_text_index_policy" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT (SELECT MAX(doc_id) FROM documents) + 1,
        |         TRIM(REPEAT('filler ', 400))),
        |tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM docs),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qt AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |       ORDER BY df DESC, t LIMIT 1),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS bm25_e4
        |  FROM tf JOIN qt USING (t) JOIN dlen USING (doc_id), stats)
        |SELECT doc_id, bm25_e4 FROM (
        |  SELECT doc_id, bm25_e4 FROM sc
        |  ORDER BY bm25_e4 DESC, doc_id LIMIT 10) t
        |UNION ALL SELECT -1, 1
        |UNION ALL SELECT -2, 1
        |UNION ALL SELECT -3, 1
        |ORDER BY bm25_e4 DESC, doc_id""".stripMargin,

    // post-refresh probe == full recompute over the HEAD corpus state
    // (retired range gone, shifted copies present) — what "incremental
    // equals rebuild" means relationally; the -1 row is the audit flag
    "q_text_index_refresh" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id NOT BETWEEN 10 AND 99
        |  UNION ALL
        |  SELECT doc_id + (SELECT MAX(doc_id) FROM documents), text
        |  FROM documents WHERE doc_id BETWEEN 1 AND 50),
        |tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM docs),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qterms AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |           ORDER BY df DESC, t LIMIT 5),
        |sc AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qterms USING (t) JOIN dlen USING (doc_id), stats),
        |top AS (SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |        FROM sc GROUP BY doc_id
        |        ORDER BY bm25_e4 DESC, doc_id LIMIT 10)
        |SELECT doc_id, n_terms, bm25_e4 FROM top
        |UNION ALL SELECT -1, 1, 0
        |ORDER BY bm25_e4 DESC, doc_id""".stripMargin,

    // same ordered fold: per-dim integer sums -> ascending squared-sum
    "q_emb_norm_stats" ->
      """WITH e AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |norms AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(ROUND(nrm * 1e6) AS BIGINT)) AS BIGINT) AS norm_sum_e6,
        |    CAST(MIN(CAST(ROUND(nrm * 1e6) AS BIGINT)) AS BIGINT) AS norm_min_e6,
        |    CAST(MAX(CAST(ROUND(nrm * 1e6) AS BIGINT)) AS BIGINT) AS norm_max_e6
        |  FROM e),
        |dims AS (SELECT generate_subscripts(embedding, 1) AS idx, UNNEST(embedding) AS v
        |         FROM e),
        |sv AS (SELECT idx,
        |    CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sv,
        |    COUNT(*) AS nd
        |  FROM dims GROUP BY idx),
        |ms AS (SELECT LIST_SUM(LIST(m * m ORDER BY idx)) AS mean_sq FROM (
        |  SELECT idx, (sv / 1048576.0) / nd AS m FROM sv) t),
        |mv AS (SELECT CAST(ROUND(SQRT(mean_sq) * 1e6) AS BIGINT) AS mvn FROM ms)
        |SELECT stat, v FROM (
        |  SELECT 'mean_vec_norm_e6' AS stat, (SELECT mvn FROM mv) AS v
        |  UNION ALL SELECT 'anisotropy_e6',
        |    (SELECT mvn FROM mv) * (SELECT n FROM norms) * 1000000
        |      // (SELECT norm_sum_e6 FROM norms)
        |  UNION ALL SELECT 'n', (SELECT n FROM norms)
        |  UNION ALL SELECT 'norm_max_e6', (SELECT norm_max_e6 FROM norms)
        |  UNION ALL SELECT 'norm_min_e6', (SELECT norm_min_e6 FROM norms)
        |  UNION ALL SELECT 'norm_sum_e6', (SELECT norm_sum_e6 FROM norms)) t
        |ORDER BY stat""".stripMargin,

    // per-cell counts from the assignment replay; skew in exact 1e4 units
    "q_index_stats" -> {
      s"""WITH $trainReplayCtes,
         |cells AS (SELECT bucket AS c_id, CAST(COUNT(*) AS BIGINT) AS n_vectors
         |          FROM asg GROUP BY bucket),
         |agg AS (SELECT CAST(MAX(n_vectors) AS BIGINT) AS mx,
         |               CAST(SUM(n_vectors) AS BIGINT) AS tot,
         |               CAST(COUNT(*) AS BIGINT) AS nc FROM cells)
         |SELECT c_id, n_vectors FROM (
         |  SELECT c_id, n_vectors FROM cells
         |  UNION ALL SELECT -1, mx * 10000 * nc // tot FROM agg) t
         |ORDER BY c_id""".stripMargin
    },

    // margin semantics as constants; the live probe count derives from
    // the corpus (5 hits per non-zero-norm query under vec_id < 10)
    // the decisions replay as constants (skew 0 always trips; nothing
    // trips 1e8; the mega-doc fold disarms then the rebuild re-arms);
    // probe rows and the head-corpus posting count are corpus-derived
    "q_store_maintain_index" ->
      """WITH e AS (SELECT vec_id FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
        |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |        FROM documents),
        |tf AS (SELECT doc_id, t FROM tok GROUP BY doc_id, t)
        |SELECT step, v FROM (
        |  SELECT 'ann_m1_rebuild' AS step, CAST(1 AS BIGINT) AS v
        |  UNION ALL SELECT 'ann_m2_keep', 1
        |  UNION ALL SELECT 'ann_probe_rows',
        |    5 * (SELECT COUNT(*) FROM e WHERE vec_id < 10)
        |  UNION ALL SELECT 'txt_m1_rebuild', 1
        |  UNION ALL SELECT 'txt_m2_keep', 1
        |  UNION ALL SELECT 'txt_postings', (SELECT COUNT(*) FROM tf) + 1) t
        |ORDER BY step""".stripMargin,

    "q_index_expire" ->
      """WITH e AS (SELECT vec_id FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
        |    x -> ABS(CAST(x AS DOUBLE)))) > 0)
        |SELECT step, v FROM (
        |  SELECT 'dropped_aged' AS step, CAST(1 AS BIGINT) AS v
        |  UNION ALL SELECT 'dropped_fresh', 0
        |  UNION ALL SELECT 'gen1_gone', 1
        |  UNION ALL SELECT 'probe_rows',
        |    5 * (SELECT COUNT(*) FROM e WHERE vec_id < 10)) t
        |ORDER BY step""".stripMargin,

    // both replay closed forms + the integer RRF kernel: dense = the
    // kmeans probe chain, sparse = q_bm25's top-20, fused per query
    "q_rag_hybrid_indexed" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("pr.q_emb", "asg.n_emb")
      s"""WITH $trainReplayCtes,
         |pr AS (SELECT q_id, q_emb, bucket FROM (
         |    SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |    FROM q CROSS JOIN c1) t WHERE prn <= 2),
         |dense AS (SELECT q_id, n_id AS doc_id, rn FROM (
         |  SELECT pr.q_id, asg.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY pr.q_id
         |      ORDER BY $cosQN DESC, asg.n_id) AS rn
         |  FROM asg JOIN pr ON asg.bucket = pr.bucket) t WHERE rn <= 5),
         |tok AS (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
         |        FROM documents),
         |tfq AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
         |dlq AS (SELECT doc_id, SUM(tf) AS dl FROM tfq GROUP BY doc_id),
         |stq AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlq),
         |dfq AS (SELECT t, COUNT(*) AS df FROM tfq GROUP BY t),
         |qtq AS (SELECT t, df FROM dfq WHERE LEN(t) >= 4
         |        ORDER BY df DESC, t LIMIT 5),
         |scq AS (
         |  SELECT tfq.doc_id,
         |    CAST(SUM(CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
         |      * (tf * (1.2 + 1.0))
         |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
         |    AS BIGINT)) AS BIGINT) AS bm25_e4
         |  FROM tfq JOIN qtq USING (t) JOIN dlq USING (doc_id), stq
         |  GROUP BY tfq.doc_id),
         |top20 AS (SELECT doc_id, bm25_e4 FROM scq
         |          ORDER BY bm25_e4 DESC, doc_id LIMIT 20),
         |sparse AS (SELECT doc_id,
         |    ROW_NUMBER() OVER (ORDER BY bm25_e4 DESC, doc_id) AS rs
         |  FROM top20),
         |qs AS (SELECT DISTINCT q_id FROM dense),
         |cand AS (SELECT q_id, doc_id FROM dense
         |         UNION SELECT qs.q_id, sparse.doc_id FROM qs CROSS JOIN sparse),
         |fused AS (SELECT c.q_id, c.doc_id,
         |    COALESCE(1000000 // (60 + d.rn), 0)
         |      + COALESCE(1000000 // (60 + sp.rs), 0) AS fused_e6
         |  FROM cand c
         |  LEFT JOIN dense d ON c.q_id = d.q_id AND c.doc_id = d.doc_id
         |  LEFT JOIN sparse sp ON c.doc_id = sp.doc_id)
         |SELECT q_id, doc_id, fused_e6, rn FROM (
         |  SELECT q_id, doc_id, CAST(fused_e6 AS BIGINT) AS fused_e6,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY fused_e6 DESC, doc_id) AS INTEGER) AS rn
         |  FROM fused) t WHERE rn <= 5
         |ORDER BY q_id, rn""".stripMargin
    },

    // refresh == frozen rebuild, PQ edition: codebook + sub-codebooks
    // train on the BASE corpus (the indexed generation), assignment +
    // codes re-derive over the HEAD corpus (retired range gone, shifted
    // copies in) — the closed form of "fold the feed under frozen
    // quantizers", which is what AnnIndex.refresh now maintains
    "q_sim_ivfpq_refresh" -> {
      val cosHF = cosQ("he.embedding", "fc1.c_emb")
      val cosQF = cosQ("q.q_emb", "fc1.c_emb")
      val cosRR = cosQ("qe.q_emb", "ne.n_emb")
      s"""WITH ${replayOn("embeddings", "f")},
         |mx AS (SELECT MAX(vec_id) AS m FROM embeddings),
         |head AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id NOT BETWEEN 10 AND 99
         |  UNION ALL
         |  SELECT e2.vec_id + mx.m + 1, e2.embedding FROM embeddings e2, mx
         |  WHERE e2.vec_id BETWEEN 1 AND 50),
         |he AS (SELECT vec_id, embedding FROM head
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |hasg AS (SELECT n_id, n_emb, bucket FROM (
         |    SELECT he.vec_id AS n_id, he.embedding AS n_emb, fc1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY he.vec_id
         |        ORDER BY $cosHF DESC, fc1.c_id) AS arn
         |    FROM he CROSS JOIN fc1) t WHERE arn = 1),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM fe WHERE vec_id < 10),
         |prb AS (SELECT q_id, bucket FROM (
         |    SELECT q.q_id, fc1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosQF DESC, fc1.c_id) AS prn
         |    FROM q CROSS JOIN fc1) t WHERE prn <= 2),
         |bsides AS (SELECT vec_id, s,
         |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
         |  FROM fe, (SELECT UNNEST(RANGE(0, 2)) AS s)),
         |cbq AS (SELECT vec_id AS c_id, s, sub AS c_sub FROM bsides
         |        WHERE vec_id BETWEEN 100 AND 107),
         |hsides AS (SELECT vec_id, s,
         |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
         |  FROM he, (SELECT UNNEST(RANGE(0, 2)) AS s)),
         |enc AS (SELECT vec_id AS n_id, s, c_id AS code FROM (
         |  SELECT v.vec_id, v.s, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
         |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.c_sub),
         |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), c.c_id) AS rn
         |  FROM hsides v JOIN cbq c ON v.s = c.s) t WHERE rn = 1),
         |dtab AS (SELECT qs.vec_id AS q_id, c.s, c.c_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qs.sub, c.c_sub),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT) AS d_e6
         |  FROM bsides qs JOIN cbq c ON qs.s = c.s WHERE qs.vec_id < 10),
         |cells AS (SELECT DISTINCT prb.q_id, hasg.n_id
         |          FROM prb JOIN hasg ON prb.bucket = hasg.bucket),
         |adc AS (SELECT d.q_id, enc.n_id, SUM(d.d_e6) AS adc
         |        FROM cells
         |        JOIN enc ON enc.n_id = cells.n_id
         |        JOIN dtab d ON enc.s = d.s AND enc.code = d.c_id
         |                   AND d.q_id = cells.q_id
         |        GROUP BY d.q_id, enc.n_id),
         |cand AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
         |  FROM adc) t WHERE rn <= 20),
         |scored AS (SELECT cand.q_id, cand.n_id, $cosRR AS score
         |  FROM cand JOIN q qe ON qe.q_id = cand.q_id
         |            JOIN hasg ne ON ne.n_id = cand.n_id)
         |SELECT q_id, n_id, score_e4, rn FROM (
         |  SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, n_id) AS INTEGER) AS rn
         |  FROM scored) t WHERE rn <= 5
         |UNION ALL SELECT -1, -1, 1, 0
         |ORDER BY q_id, rn, n_id""".stripMargin
    },

    // kmeans-cell replay composed with q_sim_pq's code/ADC chain: cells,
    // codes, candidates, and the re-ranked top-5 all reproduce
    "q_sim_ivfpq_indexed" -> pqProbeOracle(20),

    // the PQ probe replay with candidates label-restricted pre-ADC
    "q_sim_ivfpq_filtered" -> pqProbeOracle(20,
      "\n           JOIN (SELECT vec_id FROM embeddings WHERE label = 3) fl" +
      "\n             ON fl.vec_id = asg.n_id"),

    // the same chain at a 5×-wider ADC cut (the refinement dial) — one
    // parameterized closed form serves both probe widths
    "q_sim_ivfpq_rerank" -> pqProbeOracle(100),

    // the same probe replay, hydrated against documents (doc_id = vec_id)
    "q_rag_dense_indexed" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("pr.q_emb", "asg.n_emb")
      s"""WITH $trainReplayCtes,
         |pr AS (SELECT q_id, q_emb, bucket FROM (
         |    SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |    FROM q CROSS JOIN c1) t WHERE prn <= 2),
         |top AS (SELECT q_id, n_id,
         |    CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
         |  SELECT pr.q_id, asg.n_id, $cosQN AS score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY pr.q_id
         |      ORDER BY $cosQN DESC, asg.n_id) AS INTEGER) AS rn
         |  FROM asg JOIN pr ON asg.bucket = pr.bucket) t WHERE rn <= 5)
         |SELECT t.q_id, t.rn, t.n_id AS doc_id, d2.lang, d2.n_chars, t.score_e4
         |FROM top t JOIN documents d2 ON d2.doc_id = t.n_id
         |ORDER BY t.q_id, t.rn""".stripMargin
    },

    "q_ann_recall_pq" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("pr.q_emb", "asg.n_emb")
      val cosQE = cosQ("q.q_emb", "e2.embedding")
      val cosRR = cosQ("qe.q_emb", "ne.n_emb")
      s"""WITH $trainReplayCtes,
         |prb AS (SELECT q_id, q_emb, bucket FROM (
         |    SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |    FROM q CROSS JOIN c1) t WHERE prn <= 2),
         |ann_full AS (SELECT q_id, n_id FROM (
         |  SELECT pr.q_id, asg.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY pr.q_id
         |      ORDER BY $cosQN DESC, asg.n_id) AS rn
         |  FROM asg JOIN prb pr ON asg.bucket = pr.bucket) t WHERE rn <= 5),
         |sides AS (SELECT vec_id, s,
         |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
         |  FROM e, (SELECT UNNEST(RANGE(0, 2)) AS s)),
         |cbq AS (SELECT vec_id AS c_id, s, sub AS c_sub FROM sides
         |        WHERE vec_id BETWEEN 100 AND 107),
         |enc AS (SELECT vec_id AS n_id, s, c_id AS code FROM (
         |  SELECT v.vec_id, v.s, c.c_id,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
         |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.c_sub),
         |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), c.c_id) AS rn
         |  FROM sides v JOIN cbq c ON v.s = c.s) t WHERE rn = 1),
         |dtab AS (SELECT qs.vec_id AS q_id, c.s, c.c_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qs.sub, c.c_sub),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT) AS d_e6
         |  FROM sides qs JOIN cbq c ON qs.s = c.s WHERE qs.vec_id < 10),
         |cells AS (SELECT DISTINCT prb.q_id, asg.n_id
         |          FROM prb JOIN asg ON prb.bucket = asg.bucket),
         |adc AS (SELECT d.q_id, enc.n_id, SUM(d.d_e6) AS adc
         |        FROM cells
         |        JOIN enc ON enc.n_id = cells.n_id
         |        JOIN dtab d ON enc.s = d.s AND enc.code = d.c_id
         |                   AND d.q_id = cells.q_id
         |        GROUP BY d.q_id, enc.n_id),
         |cand AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
         |  FROM adc) t WHERE rn <= 20),
         |ann_pq AS (SELECT q_id, n_id FROM (
         |  SELECT cand.q_id, cand.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY cand.q_id
         |      ORDER BY $cosRR DESC, cand.n_id) AS rn
         |  FROM cand JOIN q qe ON qe.q_id = cand.q_id
         |            JOIN asg ne ON ne.n_id = cand.n_id) t WHERE rn <= 5),
         |candw AS (SELECT q_id, n_id FROM (
         |  SELECT q_id, n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
         |  FROM adc) t WHERE rn <= 100),
         |ann_pqw AS (SELECT q_id, n_id FROM (
         |  SELECT cand.q_id, cand.n_id,
         |    ROW_NUMBER() OVER (PARTITION BY cand.q_id
         |      ORDER BY $cosRR DESC, cand.n_id) AS rn
         |  FROM candw cand JOIN q qe ON qe.q_id = cand.q_id
         |            JOIN asg ne ON ne.n_id = cand.n_id) t WHERE rn <= 5),
         |exact AS (SELECT q_id, n_id FROM (
         |  SELECT q.q_id, e2.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY $cosQE DESC, e2.vec_id) AS rn
         |  FROM q CROSS JOIN e e2) t WHERE rn <= 5),
         |qs2 AS (SELECT DISTINCT q_id FROM exact),
         |rf AS (SELECT qs2.q_id, COUNT(af.n_id) AS n_hit FROM qs2
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann_full af ON exact.q_id = af.q_id AND exact.n_id = af.n_id) af
         |    ON qs2.q_id = af.q_id GROUP BY qs2.q_id),
         |rp AS (SELECT qs2.q_id, COUNT(ap.n_id) AS n_hit FROM qs2
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann_pq ap ON exact.q_id = ap.q_id AND exact.n_id = ap.n_id) ap
         |    ON qs2.q_id = ap.q_id GROUP BY qs2.q_id),
         |rpw AS (SELECT qs2.q_id, COUNT(aw.n_id) AS n_hit FROM qs2
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann_pqw aw ON exact.q_id = aw.q_id AND exact.n_id = aw.n_id) aw
         |    ON qs2.q_id = aw.q_id GROUP BY qs2.q_id)
         |SELECT variant, q_id, recall_e4 FROM (
         |  SELECT 'full' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM rf
         |  UNION ALL
         |  SELECT 'pq' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM rp
         |  UNION ALL
         |  SELECT 'pqwide' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM rpw) t
         |ORDER BY variant, q_id""".stripMargin
    },

    // the filtered twin: both the ANN arms and the exact ground truth
    // restrict to the attribute's matching vectors before ranking
    "q_ann_recall_filtered" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("pr.q_emb", "asg.n_emb")
      val cosQE = cosQ("q.q_emb", "e2.embedding")
      def annAt(p: Int): String =
        s"""(SELECT q_id, n_id FROM (
           |  SELECT pr.q_id, asg.n_id,
           |    ROW_NUMBER() OVER (PARTITION BY pr.q_id
           |      ORDER BY $cosQN DESC, asg.n_id) AS rn
           |  FROM asg JOIN (SELECT q_id, q_emb, bucket FROM prb WHERE prn <= $p) pr
           |    ON asg.bucket = pr.bucket
           |  JOIN fl ON fl.vec_id = asg.n_id) t
           |WHERE rn <= 5)""".stripMargin
      s"""WITH $trainReplayCtes,
         |fl AS (SELECT vec_id FROM embeddings WHERE label = 3),
         |prb AS (
         |  SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |  FROM q CROSS JOIN c1),
         |ann1 AS ${annAt(1)},
         |ann2 AS ${annAt(2)},
         |exact AS (SELECT q_id, n_id FROM (
         |  SELECT q.q_id, e2.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY $cosQE DESC, e2.vec_id) AS rn
         |  FROM q CROSS JOIN e e2 JOIN fl ON fl.vec_id = e2.vec_id) t
         |  WHERE rn <= 5),
         |qs AS (SELECT DISTINCT q_id FROM exact),
         |r1 AS (SELECT qs.q_id, COUNT(ann1.n_id) AS n_hit FROM qs
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann1 ON exact.q_id = ann1.q_id AND exact.n_id = ann1.n_id) ann1
         |    ON qs.q_id = ann1.q_id GROUP BY qs.q_id),
         |r2 AS (SELECT qs.q_id, COUNT(ann2.n_id) AS n_hit FROM qs
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann2 ON exact.q_id = ann2.q_id AND exact.n_id = ann2.n_id) ann2
         |    ON qs.q_id = ann2.q_id GROUP BY qs.q_id)
         |SELECT variant, q_id, recall_e4 FROM (
         |  SELECT 'p1' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM r1
         |  UNION ALL
         |  SELECT 'p2' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM r2) t
         |ORDER BY variant, q_id""".stripMargin
    },

    "q_ann_recall_indexed" -> {
      val cosQC1 = cosQ("q.q_emb", "c1.c_emb")
      val cosQN = cosQ("pr.q_emb", "asg.n_emb")
      val cosQE = cosQ("q.q_emb", "e2.embedding")
      def annAt(p: Int): String =
        s"""(SELECT q_id, n_id FROM (
           |  SELECT pr.q_id, asg.n_id,
           |    ROW_NUMBER() OVER (PARTITION BY pr.q_id
           |      ORDER BY $cosQN DESC, asg.n_id) AS rn
           |  FROM asg JOIN (SELECT q_id, q_emb, bucket FROM prb WHERE prn <= $p) pr
           |    ON asg.bucket = pr.bucket) t
           |WHERE rn <= 5)""".stripMargin
      s"""WITH $trainReplayCtes,
         |prb AS (
         |  SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY $cosQC1 DESC, c1.c_id) AS prn
         |  FROM q CROSS JOIN c1),
         |ann1 AS ${annAt(1)},
         |ann2 AS ${annAt(2)},
         |exact AS (SELECT q_id, n_id FROM (
         |  SELECT q.q_id, e2.vec_id AS n_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.q_id
         |      ORDER BY $cosQE DESC, e2.vec_id) AS rn
         |  FROM q CROSS JOIN e e2) t WHERE rn <= 5),
         |qs AS (SELECT DISTINCT q_id FROM exact),
         |r1 AS (SELECT qs.q_id, COUNT(ann1.n_id) AS n_hit FROM qs
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann1 ON exact.q_id = ann1.q_id AND exact.n_id = ann1.n_id) ann1
         |    ON qs.q_id = ann1.q_id GROUP BY qs.q_id),
         |r2 AS (SELECT qs.q_id, COUNT(ann2.n_id) AS n_hit FROM qs
         |  LEFT JOIN (SELECT exact.q_id, exact.n_id FROM exact
         |             JOIN ann2 ON exact.q_id = ann2.q_id AND exact.n_id = ann2.n_id) ann2
         |    ON qs.q_id = ann2.q_id GROUP BY qs.q_id)
         |SELECT variant, q_id, recall_e4 FROM (
         |  SELECT 'p1' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM r1
         |  UNION ALL
         |  SELECT 'p2' AS variant, q_id, n_hit * 10000 // 5 AS recall_e4 FROM r2) t
         |ORDER BY variant, q_id""".stripMargin
    },
  )
}
