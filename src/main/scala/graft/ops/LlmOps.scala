package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 — LLM-training-data pipeline operators (the G2 extension):
  * exact + near dedup, embedding similarity search, corpus text analysis,
  * TF-IDF, quality filtering, multimodal join.
  *
  * Scale posture (this is the 100 TB heart of the engine):
  * - Exact dedup: one hash-shuffle on md5(normalized text); partial agg
  *   (min doc_id per hash) combines map-side.
  * - Near dedup: MinHash(32 perms)/LSH(8 bands × 4) — cost is linear scans +
  *   one equi-shuffle on (band, signature); candidate pairs (tiny) get an
  *   exact-Jaccard verify so false LSH positives never escape. No O(n²)
  *   stage anywhere; shingles + signatures run as JVM kernels (TextHashes —
  *   HOF lambdas are interpreted per element and were the bench hotspot).
  * - Similarity: brute-force cosine here is a *broadcast* of the small query
  *   set over a scan of the corpus (linear, embarrassingly parallel) + a
  *   per-query top-k window. The IVF variant (LshSimilarity) buckets by
  *   hyperplane signs to prune candidates at scale.
  * - TF-IDF: two hash aggregations + a broadcast of the (small) df table.
  */
object LlmOps extends OpModule {

  /** q_dedup_near's live shingle cache; replaced (and the old entry
    * unpersisted) on each rebuild — see the builder comment. */
  private var liveShingleCache: Option[DataFrame] = None

  /** Unpersist the live shingle cache. Verify/Bench call this at shutdown so
    * the last build's entry doesn't outlive the queries that used it
    * (the builder itself can only unpersist the *previous* entry — its own
    * action runs after it returns). */
  def release(): Unit = {
    liveShingleCache.foreach(_.unpersist())
    liveShingleCache = None
  }

  // 5-gram word shingles — JVM kernel (TextHashes.shingles); the SQL
  // higher-order-lambda formulation is interpreted per element and was a
  // bench hotspot.

  // MinHash signature: 32 independent permutations — JVM kernel, one call
  // per row (the nested-transform SQL formulation is interpreted per element
  // and was the bench's hottest spot; see TextHashes).

  // Cosine scoring rides the codegen FloatDot expression with per-row staged
  // norms (see FloatDot scaladoc); the old shared HOF-lambda formulation was
  // interpreted per element AND recomputed norms per pair.

  override def queries: Map[String, (SparkSession, String) => DataFrame] =
    dedupQueries ++ moreQueries

  private def dedupQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C4-style exact dedup on normalized text: keep lowest doc_id per hash.
    "q_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .select(expr("md5(lower(trim(text)))").as("h"), col("doc_id"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
        .orderBy(col("keep_id"))),

    // Cluster the verified near-dup pairs into connected components and
    // elect the min doc_id as each cluster's canonical representative — the
    // step a real dedup pipeline runs after pair generation (keep one doc
    // per cluster, not per pair). Iterative min-label propagation: each
    // round every node takes min(own, neighbors' labels); converges in
    // O(component diameter) rounds (tiny for dedup clusters). Scale notes:
    // per-round cost is one shuffle join; lineage is cut each round with
    // localCheckpoint so the plan doesn't grow; at web scale you'd switch
    // to the large-star/small-star formulation, same skeleton. Oracle:
    // DuckDB recursive CTE computes min-reachable-id per node.
    "q_dedup_cluster" -> ((s, d) =>
      clusterLabels(s, d)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("lbl"))).cast("long"))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))),

    // The web-scale formulation of the same contraction (the "switch at
    // web scale" SCALE.md pointed at, now implemented): alternating
    // large-star / small-star rounds (Kiveris et al., "Connected
    // Components in MapReduce and Beyond"). Each round is two
    // degree-bounded groupBy+join passes and the edge set converges to
    // per-component stars rooted at the minimum node in O(log n) rounds —
    // versus O(component diameter) for min-label propagation — and, unlike
    // label propagation, the per-round state is the (shrinking) edge set,
    // not a label per node. Identical output contract to q_dedup_cluster
    // (same oracle SQL verbatim): both must produce the exact connected
    // components of the verified near-dup pair graph, so the hash gate
    // proves the two distributed algorithms agree with the recursive-CTE
    // ground truth.
    "q_dedup_cluster_star" -> ((s, d) => {
      val lbls = starContraction(
        nearDupPairs(s, d).select(col("doc_a"), col("doc_b")))
      lbls
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("lbl"))).cast("long"))
        .select(col("id").as("doc_id"), col("lbl").as("cluster_rep"), col("cluster_size"))
        .orderBy(col("doc_id"))
    }),

    // The pipeline's terminal decision: keep every doc except non-
    // representative members of a near-dup cluster (anti-join against the
    // derived drop set — at 100 TB the drop list is small relative to the
    // corpus and broadcasts).
    "q_dedup_keep" -> ((s, d) => {
      val drop = clusterLabels(s, d)
        .where(col("id") =!= col("lbl")).select(col("id").as("doc_id"))
      Tables.documents(s, d).select(col("doc_id"))
        .join(broadcast(drop), Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }),

    // Incremental dedup: a NEW batch (doc_id % 100 = 7 stands in for the
    // incoming feed) checked against the EXISTING curated corpus — the
    // production shape where the corpus side's band signatures are a
    // PERSISTED index and every arriving batch equi-joins it on
    // (band, sig), instead of re-running self-dedup over corpus+batch.
    // Bipartite LSH: no in-bucket self-expansion at all — candidates are
    // (incoming × curated) within a bucket, exact-Jaccard verified (τ=0.5,
    // same 8×4 band curve as q_dedup_near, whose measured recall vs brute
    // force is 100% on this corpus — the oracle IS the brute-force
    // bipartite join, so a recall miss fails the hash gate). Output: each
    // contaminated incoming doc with its duplicate count and best match.
    "q_dedup_incr" -> ((s, d) => {
      // persisted shingle frame: this builder drives it through FOUR
      // lineages (two band sides + two verify joins)
      val sh = shingleFrame(s, d)
      val isIncoming = pmod(col("doc_id"), lit(100)) === 7
      // bands travel WITHOUT the shingle payload (joining arrays through
      // the 8× band explode would multiply the shuffle); shingles join
      // back onto the deduped candidate pairs only.
      val inc = bandsOf(sh.where(isIncoming)).drop("sh")
        .select(col("doc_id").as("db"), col("band"), col("sig"))
      // Shed degenerate curated-side buckets (> MaxBucket docs sharing a
      // band signature — boilerplate) BEFORE the bipartite join, mirroring
      // minhashVerifiedPairs' cap: an uncapped curated bucket multiplies
      // every incoming hit by its size. The window count shuffles on the
      // same (band, sig) key the join needs, so the exchange is reused;
      // at harness scale every bucket is ≤ ~10, so the oracle-checked
      // output is unchanged (same recall caveat as the self-dedup path).
      val cur = bandsOf(sh.where(!isIncoming)).drop("sh")
        .select(col("doc_id").as("da"), col("band"), col("sig"))
        .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("band"), col("sig"))))
        .where(col("bn") <= MaxBucket).drop("bn")
      inc.join(cur, Seq("band", "sig"))
        .select(col("db"), col("da")).distinct()
        .join(sh.select(col("doc_id").as("da"), col("sh").as("sh_a")), "da")
        .join(sh.select(col("doc_id").as("db"), col("sh").as("sh_b")), "db")
        .withColumn("jaccard",
          expr("size(array_intersect(sh_a, sh_b)) / cast(size(array_union(sh_a, sh_b)) as double)"))
        .where(col("jaccard") >= 0.5)
        .groupBy(col("db").as("doc_id"))
        .agg(count(lit(1)).as("n_dups"),
             max(round(col("jaccard") * 10000).cast("int")).as("best_j_e4"))
        .orderBy(col("doc_id"))
    }),

    // MinHash + LSH near-duplicate pairs, exact-Jaccard verified (τ = 0.5).
    // Oracle-promoted in round 2: the exact-Jaccard verify stage means the
    // output is exactly {LSH candidate pairs} ∩ {J ≥ τ}; measured recall of
    // the 32-perm/8-band LSH against the full all-pairs J ≥ 0.5 set is 100%
    // at sf0.001 (28/28) and sf0.01 (25/25) on the fixed test corpus — and
    // the full-tier sweep hash-matched at sf0.1 as well, so recall is 100%
    // at every tier. The output EQUALS the brute-force set the DuckDB oracle
    // computes; any future recall miss surfaces as a hash mismatch, i.e. the
    // gate now also checks recall, strictly stronger than rows-only.
    "q_dedup_near" -> ((s, d) => nearDupPairs(s, d)),
  )

  /** Connected-component labels (id, lbl = component min) over the verified
    * near-dup pairs — see q_dedup_cluster's comment for the algorithm. */
  private def clusterLabels(s: SparkSession, d: String): DataFrame =
    labelPropagation(nearDupPairs(s, d).select(col("doc_a"), col("doc_b")))

  /** Min-label propagation over an undirected edge set (doc_a, doc_b) →
    * (id, lbl = min node of id's component). private[graft] so the property
    * suite can drive generated graphs against a union-find reference. */
  private[graft] def labelPropagation(pairs: DataFrame): DataFrame = {
    val und = pairs.union(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint(true)
    var labels = und.select(col("doc_a").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) { // 64 = diameter safety bound
      val nbrMin = und
        .join(labels.select(col("id").as("doc_b"), col("lbl").as("nlbl")), "doc_b")
        .groupBy(col("doc_a").as("id")).agg(min(col("nlbl")).as("min_nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
                least(col("lbl"), coalesce(col("min_nbr"), col("lbl"))).as("lbl"))
        .localCheckpoint(true)
      converged = next.join(labels.withColumnRenamed("lbl", "old"), "id")
        .where(col("lbl") =!= col("old")).isEmpty
      labels = next
      rounds += 1
    }
    labels
  }

  /** Large-star/small-star contraction over an undirected edge set
    * (doc_a, doc_b) → (id, lbl = min node of id's component) — the
    * O(log n)-round alternative to [[labelPropagation]]. Large-star
    * attaches each node's LARGER neighbors to its minimum neighbor
    * (min(Γ(u) ∪ u)); small-star then attaches the remaining smaller
    * neighbors (and u itself) to the minimum. Both phases preserve
    * connectivity and only ever decrease (neighbor-min) potentials, so the
    * edge set converges to stars rooted at each component's minimum.
    * Per-round cost: two groupBy-min + join passes over the current edge
    * set; lineage cut per round with localCheckpoint. private[graft] so
    * the property suite can drive generated graphs against a union-find
    * reference (same harness as labelPropagation). */
  private[graft] def starContraction(pairs: DataFrame): DataFrame = {
    // canonical direction: big node -> small node
    var edges = pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
              least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) { // O(log n) expected; 64 = safety bound
      // large-star: symmetrize, attach neighbors v > u to m = min(Γ(u) ∪ u)
      val nbrs = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val large = nbrs.join(mins, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
      // small-star: edges are big->small; attach u and its small neighbors
      // to m = min of them (emitted edges stay big->small by construction)
      val sMins = large.groupBy("u").agg(min(col("v")).as("m"))
      val small = large.join(sMins, "u")
        .select(explode(array(struct(col("v").as("a"), col("m").as("b")),
                              struct(col("u").as("a"), col("m").as("b")))).as("e"))
        .select(col("e.a").as("u"), col("e.b").as("v"))
        .where(col("u") =!= col("v")).distinct()
        .localCheckpoint(true)
      converged = small.except(edges).isEmpty && edges.except(small).isEmpty
      edges = small
      rounds += 1
    }
    // stars: members point at their root; roots (never a source) label selves
    val members = edges.select(col("u").as("id"), col("v").as("lbl"))
    val roots = edges.select(col("v").as("id")).distinct()
      .join(edges.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl"))
    members.union(roots)
  }

  /** Degenerate-bucket cap (docs per band bucket). A boilerplate-heavy
    * corpus can drive one band bucket to 10⁶ docs → 10¹² in-bucket pairs;
    * buckets above the cap are SHED from pair expansion, bounding any
    * bucket's work at cap², while every bucket at or below it expands as
    * before — so recall on non-degenerate pairs is untouched (property-
    * tested in DedupVariantsSpec with a planted boilerplate clique). The
    * cap is far above every real bucket in this corpus at every tier
    * (verified ≤ ~10), so the oracle-checked output is unchanged; at
    * 100 TB a shed bucket is exactly the boilerplate cluster that needs
    * q_boilerplate-style handling, not pairwise dedup.
    */
  private[graft] val MaxBucket = 64

  /** Persisted (doc_id, sh) shingle frame — the lineage feeds the signature
    * path AND the verification joins, so uncached it recomputes 3-4× (cache
    * is keyed by canonicalized plan, so repeated builder calls in Bench
    * reuse one entry). The previous build's entry is unpersisted here so at
    * most one shingle cache is live across Verify's full-inventory session /
    * Bench's warmup+2 timed passes (a builder can't unpersist its own entry
    * — the action runs after it returns). */
  private def shingleFrame(s: SparkSession, d: String): DataFrame = {
    liveShingleCache.foreach(_.unpersist())
    val sh = Tables.documents(s, d)
      .select(col("doc_id"),
              graft.functions.TextHashes.shingles(5)(split(trim(col("text")), " ")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    liveShingleCache = Some(sh)
    sh
  }

  /** Shared pipeline: q_dedup_near's output IS q_dedup_cluster's edge set. */
  private def nearDupPairs(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairs(shingleFrame(s, d), MaxBucket)

  /** MinHash/LSH candidate generation + exact-Jaccard verify over a
    * (doc_id, sh: Array[Long] shingle set) frame. private[graft] so the
    * property suite can drive planted corpora with explicit caps.
    */
  /** (doc_id, sh, band, sig) — 8 bands of 4 minhash perms each; the
    * (band, sig) pair is the LSH bucket equi-key. */
  private def bandsOf(sh: DataFrame): DataFrame = {
    sh.select(col("doc_id"), col("sh"),
        graft.functions.TextHashes.minhash32(col("sh")).as("mh"))
      .select(col("doc_id"), col("sh"),
        posexplode(expr("transform(sequence(0, 7), b -> xxhash64(slice(mh, b * 4 + 1, 4)))")))
      .toDF("doc_id", "sh", "band", "sig")
  }

  private[graft] def minhashVerifiedPairs(sh: DataFrame, maxBucket: Int): DataFrame = {
      val bands = bandsOf(sh).drop("sh")
      // Pair generation via groupBy + in-bucket expansion: ONE pass over the
      // bands (a self-join would recompute the whole minhash lineage twice —
      // measured 2× at sf0.1) and bucket-local combinations bound the output.
      // Buckets above maxBucket are degenerate (boilerplate) and shed.
      val cand = bands.groupBy(col("band"), col("sig"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .where(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
        .select(explode(expr(
          """flatten(transform(ids,
            |  (a, i) -> transform(slice(ids, i + 2, size(ids)),
            |            b -> named_struct('doc_a', a, 'doc_b', b))))""".stripMargin)).as("p"))
        .select(col("p.doc_a"), col("p.doc_b"))
        .distinct()
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
        .withColumn("jaccard",
          expr("size(array_intersect(sh_a, sh_b)) / cast(size(array_union(sh_a, sh_b)) as double)"))
        .where(col("jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
  }

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Brute-force cosine top-5 neighbors for the query vectors (vec_id < 10).
    // Norms staged per row; per-pair work is one codegen'd dot (FloatDot).
    "q_sim_topk" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      val q = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val n = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      n.crossJoin(broadcast(q))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        // integer 1e-4 units: rounded doubles have engine-specific low bits
        // (and DuckDB's list_cosine_similarity is float32) — exact ints don't
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Corpus stats per (lang, source).
    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
             sum(size(split(trim(col("text")), " ")).cast("long")).as("n_tokens"),
             round(avg(col("n_chars")), 4).as("avg_chars"),
             min(col("n_chars")).as("min_chars"),
             max(col("n_chars")).as("max_chars"))
        .orderBy(col("lang"), col("source"))),

    // Top-10 TF-IDF terms per language.
    //
    // 100 TB shape: the document-frequency table has one row per DISTINCT
    // term in the corpus — a multi-billion-row vocabulary at scale, never a
    // broadcastable dim. Both tf and df therefore derive from ONE token
    // stream repartitioned on term: HashPartitioning(term) satisfies every
    // downstream clustering ((term,lang,doc_id), (lang,term), (term)) and
    // the tf⋈df equi join, so the pipeline is two shuffles total (term,
    // then the per-lang top-k window) and the shared token exchange is
    // planned once per branch but materialized once (exchange/stage reuse —
    // plan-audited in PlanAuditSpec). Only the 1-row corpus count
    // broadcasts.
    "q_tfidf_terms" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("lang"), col("doc_id"),
        explode(split(trim(lower(col("text"))), " ")).as("term"))
        .repartition(col("term"))
      // one row per (term, doc) with its in-doc count — the shared base both
      // branches re-aggregate WITHOUT re-shuffling (term ⊆ every key set;
      // lang is functionally dependent on doc_id, so counting these rows per
      // term IS the distinct-document frequency)
      val perDoc = tok.groupBy(col("term"), col("lang"), col("doc_id"))
        .agg(count(lit(1)).as("c"))
      val tf = perDoc.groupBy(col("lang"), col("term")).agg(sum(col("c")).as("tf"))
      val dfreq = perDoc.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      val w = Window.partitionBy(col("lang")).orderBy(col("score").desc, col("term"))
      // hint pins the sort-merge shape: at test SF the post-agg stats fall
      // under autoBroadcastJoinThreshold and Catalyst would flip this back
      // to a broadcast of the vocabulary — the exact plan that OOMs at scale
      tf.join(dfreq.hint("merge"), "term")
        .crossJoin(broadcast(total))
        .withColumn("score", col("tf") * log(col("n_total").cast("double") / col("df")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 10)
        .select(col("lang"), col("term"), round(col("score"), 4).as("score"), col("rn"))
        .orderBy(col("lang"), col("rn"))
    }),

    // Heuristic quality gate (length bounds, lang allowlist, symbol ratio).
    "q_quality_filter" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("sym_ratio",
          expr("length(regexp_replace(lower(text), '[a-z ]', '')) / cast(length(text) as double)"))
        .where(col("n_chars").between(100, 2000) &&
               col("lang").isin("en", "de", "fr") &&
               col("sym_ratio") < 0.1 &&
               size(split(trim(col("text")), " ")) >= 20)
        .select(col("doc_id"), col("lang"), col("n_chars"), round(col("sym_ratio"), 4).as("sym_ratio"))
        .orderBy(col("doc_id"))),

    // Documents ⋈ embeddings: text + vector "multimodal" frame.
    "q_multimodal_join" -> ((s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .where(col("label") < 5 && col("n_chars") > 200)
        .select(col("doc_id"), col("lang"), col("label"), size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))),
  )

  /** Exact connected components of the verified near-dup graph — shared by
    * q_dedup_cluster (label propagation) and q_dedup_cluster_star
    * (large-star/small-star): one ground truth, two distributed algorithms. */
  private val clusterOracleSql: String =
    """WITH RECURSIVE
      |base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
      |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' '))) AS sh FROM base),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE LEN(LIST_INTERSECT(a.sh, b.sh))
      |        / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS DOUBLE) >= 0.5),
      |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |      UNION ALL SELECT doc_b, doc_a FROM pairs),
      |nodes AS (SELECT DISTINCT a AS id FROM e),
      |reach AS (SELECT id, id AS r FROM nodes
      |          UNION
      |          SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id),
      |lbl AS (SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id)
      |SELECT id AS doc_id, cluster_rep,
      |  CAST(COUNT(*) OVER (PARTITION BY cluster_rep) AS BIGINT) AS cluster_size
      |FROM lbl ORDER BY doc_id""".stripMargin

  override def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT md5(LOWER(TRIM(text))) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(LOWER(TRIM(text)))
        |ORDER BY keep_id""".stripMargin,

    // Brute-force bipartite join (incoming × curated). The incoming slice
    // is 1% of docs, so this oracle stays ~n²/100 — minutes at sf0.1, not
    // the hours the self-dedup oracles cost.
    "q_dedup_incr" ->
      """WITH base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
        |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' '))) AS sh FROM base),
        |inc AS (SELECT * FROM sh WHERE doc_id % 100 = 7),
        |cur AS (SELECT * FROM sh WHERE doc_id % 100 <> 7),
        |m AS (
        |  SELECT i.doc_id AS db,
        |    LEN(LIST_INTERSECT(i.sh, c.sh))
        |      / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(i.sh, c.sh))) AS DOUBLE) AS j
        |  FROM inc i CROSS JOIN cur c)
        |SELECT db AS doc_id, COUNT(*) AS n_dups,
        |  CAST(MAX(CAST(ROUND(j * 10000) AS INTEGER)) AS INTEGER) AS best_j_e4
        |FROM m WHERE j >= 0.5
        |GROUP BY db ORDER BY doc_id""".stripMargin,

    // Connected components via recursive CTE over the same exact-Jaccard
    // edge set: reach(id, r) = "node r reaches id"; UNION dedups, so the
    // recursion terminates; MIN(r) per id = the component's min node.
    // q_dedup_cluster_star shares the SQL verbatim: both distributed
    // algorithms must reproduce the same exact components.
    "q_dedup_cluster" -> clusterOracleSql,
    "q_dedup_cluster_star" -> clusterOracleSql,

    // Survivors = all docs minus non-representative cluster members, from
    // the same recursive-CTE labels.
    "q_dedup_keep" ->
      """WITH RECURSIVE
        |base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
        |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' '))) AS sh FROM base),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE LEN(LIST_INTERSECT(a.sh, b.sh))
        |        / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS DOUBLE) >= 0.5),
        |e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |      UNION ALL SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT a AS id FROM e),
        |reach AS (SELECT id, id AS r FROM nodes
        |          UNION
        |          SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id),
        |lbl AS (SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM lbl WHERE id <> cluster_rep)
        |ORDER BY doc_id""".stripMargin,

    // Brute-force all-pairs twin of the LSH pipeline (see the query comment:
    // LSH recall is 100% on this corpus, so the sets are equal). O(n²) is
    // fine for the 500-doc oracle tier; the Spark side never materializes
    // all pairs.
    "q_dedup_near" ->
      """WITH base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
        |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' '))) AS sh FROM base)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(LEN(LIST_INTERSECT(a.sh, b.sh))
        |        / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE LEN(LIST_INTERSECT(a.sh, b.sh))
        |      / CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.sh, b.sh))) AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // NB: DuckDB's LIST_COSINE_SIMILARITY runs in float32 (≈1e-7 error) —
    // compute the cosine in explicit double math so both engines agree to
    // ~1e-15 and the integer 1e-4 encoding is stable.
    "q_sim_topk" ->
      """WITH pairs AS (
        |  SELECT q.vec_id AS q_id, e.vec_id AS n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.embedding, e.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |    / (SQRT(LIST_SUM(LIST_TRANSFORM(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
        |  FROM embeddings e
        |  CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM pairs) t
        |WHERE rn <= 5
        |ORDER BY q_id, rn""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(STRING_SPLIT(TRIM(text), ' '))) AS BIGINT) AS n_tokens,
        |  ROUND(AVG(n_chars), 4) AS avg_chars,
        |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "q_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT lang, doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT term, doc_id FROM tok) GROUP BY term
        |), tot AS (SELECT COUNT(*) AS n_total FROM documents)
        |SELECT lang, term, ROUND(score, 4) AS score, rn FROM (
        |  SELECT tf.lang, tf.term,
        |    tf.tf * LN(CAST(tot.n_total AS DOUBLE) / dfreq.df) AS score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY tf.lang
        |      ORDER BY tf.tf * LN(CAST(tot.n_total AS DOUBLE) / dfreq.df) DESC, tf.term)
        |      AS INTEGER) AS rn
        |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN tot) t
        |WHERE rn <= 10
        |ORDER BY lang, rn""".stripMargin,

    "q_quality_filter" ->
      """SELECT doc_id, lang, n_chars,
        |  ROUND(LENGTH(REGEXP_REPLACE(LOWER(text), '[a-z ]', '', 'g'))
        |        / CAST(LENGTH(text) AS DOUBLE), 4) AS sym_ratio
        |FROM documents
        |WHERE n_chars BETWEEN 100 AND 2000
        |  AND lang IN ('en', 'de', 'fr')
        |  AND LENGTH(REGEXP_REPLACE(LOWER(text), '[a-z ]', '', 'g'))
        |      / CAST(LENGTH(text) AS DOUBLE) < 0.1
        |  AND LEN(STRING_SPLIT(TRIM(text), ' ')) >= 20
        |ORDER BY doc_id""".stripMargin,

    "q_multimodal_join" ->
      """SELECT doc_id, lang, label, CAST(LEN(embedding) AS INTEGER) AS dim
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |WHERE label < 5 AND n_chars > 200
        |ORDER BY doc_id""".stripMargin,
  )
}
