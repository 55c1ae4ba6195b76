package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest neighbor over the embedding column — the scale path
  * beside q_sim_topk's brute force (SURVEY.md §2.9).
  *
  * Sign-random-projection LSH: 8 fixed ±1 hyperplanes (seeded, deterministic)
  * hash every vector into one of 256 buckets; a query probes its own bucket
  * plus all 8 Hamming-1 neighbors, then ranks the candidate set by exact
  * double cosine. At 100 TB: the corpus-side bucket id is computed in one
  * linear scan and can be a partition/bucketing key — a query then touches
  * 9/256 of the data instead of all of it; recall/probe-count is the tuning
  * dial (measured ≈0.5+ recall@5 on this corpus in SimilaritySpec).
  *
  * Oracle (hash-checked): the probe set (own bucket + Hamming-1 +
  * Hamming-2) is exactly "bucket XOR distance ≤ 2", and the hyperplane
  * signs are serialized into the SQL as literals — so DuckDB reproduces
  * the same buckets, the same candidate pairs, and the same exact-cosine
  * top-5. That pins the full ANN contract (bucketing + candidate ranking),
  * not just row counts; recall vs brute force stays property-tested in
  * SimilaritySpec.
  */
object Similarity extends OpModule {

  /** Split each vector into its two PQ subspaces (one row per side).
    * `carry` names extra `df` columns (functionally dependent on vec_id —
    * e.g. an index build's filter attribute) to ride through the explode,
    * so downstream per-vec aggregates stop paying a corpus-sized
    * join-back on vec_id to recover them (the assign()-carry convention,
    * r15). */
  private[graft] def pqSides(df: DataFrame, carry: Seq[String] = Nil): DataFrame =
    df.select(Seq(col("vec_id"), col("nrm"),
      explode(array(
        struct(lit(0).as("side"), expr("slice(embedding, 1, 32)").as("sub")),
        struct(lit(1).as("side"), expr("slice(embedding, 33, 32)").as("sub")))).as("h")) ++
      carry.map(col): _*)
    .select(Seq(col("vec_id"), col("h.side").as("side"), col("h.sub").as("sub")) ++
      carry.map(col): _*)

  /** Ascending sequential L2² fold over a (sub, c_sub) pair — the exact
    * expression DuckDB's LIST_SUM/LIST_TRANSFORM twin replays. */
  private[graft] val PqL2Sq = "aggregate(zip_with(sub, c_sub, (x, y) -> " +
    "(cast(x as double) - cast(y as double)) * (cast(x as double) - cast(y as double))), " +
    "0d, (acc, v) -> acc + v)"

  /** Deterministic ±1 hyperplanes (shared with DedupVariants' sub-blocked
    * embedding dedup — both serialize the signs into their oracle SQL). */
  private[ops] def mkPlanes(n: Int, dims: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dims)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** 8 deterministic ±1 hyperplanes over 64 dims (seed 42). */
  private val planes: Array[Array[Double]] = mkPlanes(8, 64, 42L)

  /** 16 deterministic ±1 hyperplanes (seed 7) for q_emb_rp's
    * Johnson–Lindenstrauss projection — distinct seed from the LSH planes
    * so the two operators don't share structure. */
  private[ops] val rpPlanes: Array[Array[Double]] = mkPlanes(16, 64, 7L)

  /** 16 deterministic ±1 hyperplanes (seed 13) for q_knn_graph's bucket
    * code — a third independent plane family (no shared structure with the
    * 8-plane LSH or the seed-7 JL set). */
  private[ops] val knnPlanes: Array[Array[Double]] = mkPlanes(16, 64, 13L)

  private def dot(emb: Column, w: Array[Double]): Column =
    aggregate(
      zip_with(emb, typedLit(w.toSeq), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  /** Sign-random-projection bucket id for an embedding column. */
  private[ops] def signBucket(emb: Column, ps: Array[Array[Double]]): Column =
    ps.zipWithIndex.map { case (w, j) =>
      when(dot(emb, w) > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def bucketOf(emb: Column): Column = signBucket(emb, planes)

  /** VALUES rows rendering of ±1 planes for a DuckDB oracle CTE. */
  private[ops] def planeSqlRows(ps: Array[Array[Double]], indent: String): String =
    ps.zipWithIndex.map { case (w, j) =>
      s"($j, [${w.map(v => if (v > 0) "1" else "-1").mkString(",")}])"
    }.mkString(",\n" + indent)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sim_lsh" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      // zero-norm guard (same hazard + same both-sides filter as
      // q_dedup_embcos): cosine of a zero vector is NaN, and NaN ordering +
      // int casting DIVERGE between engines — exclude identically here and
      // in the oracle.
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                            col("nrm").as("n_nrm"))
        .withColumn("n_bucket", bucketOf(col("n_emb")))
      val queriesDf = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"))
        .withColumn("q_bucket", bucketOf(col("q_emb")))
        // multi-probe: own bucket + all Hamming-1 and Hamming-2 neighbors
        // (37 of 256 buckets → ~7× candidate pruning, recall ≈ 0.5 measured)
        .withColumn("probe", explode(expr(
          """concat(array(q_bucket),
            |  transform(sequence(0, 7), k -> cast(q_bucket as int) ^ shiftleft(1, k)),
            |  flatten(transform(sequence(0, 6), k1 ->
            |    transform(sequence(k1 + 1, 7), k2 ->
            |      cast(q_bucket as int) ^ shiftleft(1, k1) ^ shiftleft(1, k2)))))""".stripMargin)))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      corpus.join(broadcast(queriesDf), col("n_bucket") === col("probe"))
        .select(col("q_id"), col("n_id"), col("q_emb"), col("n_emb"),
                col("q_nrm"), col("n_nrm")).distinct()
        // staged norms + codegen dot (FloatDot): per-pair work = one dot
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Product-quantization ANN — the memory-bound scale path that completes
    // the family (brute force → sign-LSH → IVF → PQ): each vector is
    // ENCODED as 2 sub-space codebook indices (here 2×3 bits — at 100 TB a
    // 64-dim float vector becomes 8-16 bytes of codes, the compression that
    // lets a billion-vector index live in RAM), and query-to-vector
    // distance is approximated by ADC (asymmetric distance computation):
    // the query precomputes its L2² to every codeword once (2×8 lookups
    // per query), so scoring a vector is 2 table lookups + an integer add
    // — no per-pair float math at all. Top-20 by ADC then exact-cosine
    // re-rank to top-5 (the standard two-stage PQ serving shape).
    // Determinism/oracle: codebooks are the sub-vectors of vec_id 100-107
    // (sampled codebook; production trains them with q_emb_kmeans's Lloyd
    // step — codebook quality is a training concern, the OPERATOR is
    // encode+ADC), L2² is the same ascending sequential fold both engines
    // run, per-side distances round to integer 1e-6 units BEFORE the ADC
    // sum (2-term double sums are order-sensitive; integer sums are not),
    // and all ranks tie-break on vec_id — DuckDB reproduces codes, ADC,
    // candidates, and the final top-5 exactly.
    "q_sim_pq" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val sides = (df: DataFrame) => pqSides(df)
      val l2sq = PqL2Sq
      val cb = sides(e.where(col("vec_id").between(100, 107)))
        .select(col("vec_id").as("c_id"), col("side"), col("sub").as("c_sub"))
      // encode: nearest codeword per (vector, side); ties break on c_id
      val encW = Window.partitionBy(col("vec_id"), col("side"))
        .orderBy(col("dist"), col("c_id"))
      val codes = sides(e).join(broadcast(cb), "side")
        .withColumn("dist", expr(l2sq))
        .withColumn("rn", row_number().over(encW)).where(col("rn") === 1)
        .select(col("vec_id").as("n_id"), col("side"), col("c_id").as("code"))
      // query ADC tables: L2² to every codeword, integer 1e-6 units
      val dtab = sides(e.where(col("vec_id") < 10))
        .select(col("vec_id").as("q_id"), col("side"), col("sub"))
        .join(broadcast(cb), "side")
        .select(col("q_id"), col("side"), col("c_id"),
                expr(s"cast(round($l2sq * 1000000) as bigint)").as("d_e6"))
      val candW = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
      val cand = codes.join(broadcast(dtab),
          codes("side") === dtab("side") && codes("code") === dtab("c_id"))
        .groupBy(col("q_id"), col("n_id")).agg(sum(col("d_e6")).as("adc"))
        .withColumn("rn", row_number().over(candW)).where(col("rn") <= 20)
        .select(col("q_id"), col("n_id"))
      // exact re-rank of the 20 ADC candidates
      val rerankW = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      cand
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                       col("nrm").as("q_nrm")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                       col("nrm").as("n_nrm")), "n_id")
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(rerankW)).where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // IVF + PQ composed — the PRODUCTION billion-scale ANN shape (FAISS
    // IVFPQ): the coarse quantizer restricts each query to its 2 probed
    // cells (q_sim_ivf's partition pruning), and scoring INSIDE a cell is
    // PQ ADC lookups (q_sim_pq's compression) — so query cost is
    // nprobe/ncells of the corpus × 2 integer lookups per vector, and the
    // index is codes + centroids, never raw floats. Exact-cosine re-rank
    // of the top-20 ADC survivors. Every stage reuses the two parents'
    // frozen determinism contracts (sampled centroids 100-115, sampled
    // codebooks 100-107, 1e-6 integer ADC, (value, id) tie-breaks); the
    // oracle composes both parents' CTE chains and must agree on cells,
    // codes, candidates, and the final top-5.
    "q_sim_ivfpq" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      // coarse quantizer: 16 sampled centroids, top-1 assign / top-2 probe
      val cents = e.where(col("vec_id").between(100, 115))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                col("nrm").as("c_nrm"))
      val wAssign = Window.partitionBy(col("n_id")).orderBy(col("c_score").desc, col("c_id"))
      val assigned = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                              col("nrm").as("n_nrm"))
        .join(broadcast(cents))
        .withColumn("c_score",
          expr("graft_float_dot(n_emb, c_emb)") / (col("n_nrm") * col("c_nrm")))
        .withColumn("arn", row_number().over(wAssign)).where(col("arn") === 1)
        .select(col("n_id"), col("c_id").as("bucket"))
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("p_score").desc, col("c_id"))
      val probes = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"))
        .join(broadcast(cents))
        .withColumn("p_score",
          expr("graft_float_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm")))
        .withColumn("prn", row_number().over(wProbe)).where(col("prn") <= 2)
        .select(col("q_id"), col("c_id").as("bucket"))
      // PQ encode + per-query ADC tables (q_sim_pq's construction)
      val cb = pqSides(e.where(col("vec_id").between(100, 107)))
        .select(col("vec_id").as("c_id"), col("side"), col("sub").as("c_sub"))
      val encW = Window.partitionBy(col("vec_id"), col("side"))
        .orderBy(col("dist"), col("c_id"))
      val codes = pqSides(e).join(broadcast(cb), "side")
        .withColumn("dist", expr(PqL2Sq))
        .withColumn("rn", row_number().over(encW)).where(col("rn") === 1)
        .select(col("vec_id").as("n_id"), col("side"), col("c_id").as("code"))
      val dtab = pqSides(e.where(col("vec_id") < 10))
        .select(col("vec_id").as("q_id"), col("side"), col("sub"))
        .join(broadcast(cb), "side")
        .select(col("q_id"), col("side"), col("c_id"),
                expr(s"cast(round($PqL2Sq * 1000000) as bigint)").as("d_e6"))
      // ADC only over vectors in the probed cells
      val candW = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("n_id"))
      val cand = probes.join(assigned, "bucket").select(col("q_id"), col("n_id"))
        .join(codes, "n_id")
        .join(broadcast(dtab.withColumnRenamed("c_id", "code")),
              Seq("q_id", "side", "code"))
        .groupBy(col("q_id"), col("n_id")).agg(sum(col("d_e6")).as("adc"))
        .withColumn("rn", row_number().over(candW)).where(col("rn") <= 20)
        .select(col("q_id"), col("n_id"))
      val rerankW = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      cand
        .join(e.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                       col("nrm").as("q_nrm")), "q_id")
        .join(e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                       col("nrm").as("n_nrm")), "n_id")
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(rerankW)).where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Johnson–Lindenstrauss random projection 64 → 16 dims: ±1 hyperplanes
    // (sign-random-projection's planes, but emitting the PROJECTIONS, not
    // the sign bits) — the cheap dense dimensionality reduction that feeds
    // clustering/visualization at 100 TB (16 doubles per vector instead of
    // 64 floats; one linear scan, zero shuffle, trivially codegen'd).
    // Determinism: each projection is Σ ±x over the 64 float components —
    // floats are exact in double and the partial sums stay far below 2^53,
    // so the sum is EXACT (order-independent) and ROUND(·1e4) agrees
    // bit-for-bit with DuckDB's LIST_SUM over the same plane literals.
    // Long-form output (vec_id, j, proj_e4) — no array columns.
    "q_emb_rp" -> ((s, d) => {
      val projs = rpPlanes.zipWithIndex.map { case (w, j) =>
        struct(lit(j).as("j"),
               round(dot(col("embedding"), w) * 10000).cast("bigint").as("proj_e4"))
      }
      Tables.embeddings(s, d)
        .select(col("vec_id"), explode(array(projs.toSeq: _*)).as("p"))
        .select(col("vec_id"), col("p.j").as("j"), col("p.proj_e4").as("proj_e4"))
        .orderBy(col("vec_id"), col("j"))
    }),

    // RP-prefilter ANN: q_emb_rp's 16-dim projection as the CANDIDATE
    // space — scoring a pair costs 16 multiplies instead of 64 (the
    // dimensionality-reduction prefilter used when an index is too coarse
    // but full-dim brute force too wide), top-40 by projected cosine, then
    // exact-cosine re-rank to top-5. Complements the family's asymptotic
    // reducers (LSH buckets, IVF probes, PQ codes) with the
    // constant-factor reducer; at 100 TB the projected table is what the
    // prefilter scans — 1/4 the bytes, same row count. Determinism: the
    // projections are exact-in-double ±float sums (q_emb_rp), the 16-term
    // score fold is the same sequential order both engines run (the
    // q_sim_pq precedent), zero-norm vectors excluded in BOTH spaces
    // identically (a vector can project to the zero vector).
    "q_sim_rp_topk" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
        .withColumn("parr", array(rpPlanes.map(w => dot(col("embedding"), w)).toSeq: _*))
        .withColumn("pnrm", sqrt(expr(
          "aggregate(parr, 0d, (acc, x) -> acc + x * x)")))
        .where(col("pnrm") > 0)
      val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                            col("nrm").as("n_nrm"), col("parr").as("n_parr"),
                            col("pnrm").as("n_pnrm"))
      val qs = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"), col("parr").as("q_parr"),
                col("pnrm").as("q_pnrm"))
      val candW = Window.partitionBy(col("q_id")).orderBy(col("p_score").desc, col("n_id"))
      val rerankW = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      corpus.crossJoin(broadcast(qs))
        .withColumn("p_score", expr(
          "aggregate(zip_with(q_parr, n_parr, (x, y) -> x * y), 0d, (acc, v) -> acc + v)")
          / (col("q_pnrm") * col("n_pnrm")))
        .withColumn("rn", row_number().over(candW)).where(col("rn") <= 40)
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(rerankW)).where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Binary-quantization ANN: each vector compressed to its 64 SIGN BITS
    // (1 bit per dimension, stored as two 32-bit halves in BIGINTs so both
    // engines stay in overflow-safe arithmetic — the q_phash_dedup
    // convention), candidates ranked by Hamming distance (popcount of XOR
    // — integer-exact, tie-broken by n_id), top-40, exact-cosine re-rank
    // to top-5. Completes the vector-compression ladder beside int8
    // (q_emb_quantize) and PQ codes (q_sim_pq): 32× smaller than float32,
    // and at 100 TB the prefilter scan reads 8 bytes + one SIMD popcount
    // per vector while the exact rerank touches only 40 vectors per query.
    // Distinct from q_sim_lsh (sign bits OF THE COMPONENTS rank by
    // distance; LSH sign-bits of random projections gate by bucket
    // equality) and from q_sim_rp_topk (float projected-cosine ranking).
    "q_sim_bq" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      def half(off: Int): String =
        s"aggregate(transform(sequence(0, 31), j -> IF(element_at(embedding, j + ${off + 1}) > 0, " +
          "shiftleft(cast(1 as bigint), j), cast(0 as bigint))), cast(0 as bigint), (acc, x) -> acc + x)"
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
        .withColumn("c_lo", expr(half(0)))
        .withColumn("c_hi", expr(half(32)))
      val corpus = e.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                            col("nrm").as("n_nrm"), col("c_lo").as("n_lo"),
                            col("c_hi").as("n_hi"))
      val qs = e.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"), col("c_lo").as("q_lo"), col("c_hi").as("q_hi"))
      val candW = Window.partitionBy(col("q_id")).orderBy(col("hamm"), col("n_id"))
      val rerankW = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      corpus.crossJoin(broadcast(qs))
        .withColumn("hamm",
          bit_count(col("q_lo").bitwiseXOR(col("n_lo"))) +
          bit_count(col("q_hi").bitwiseXOR(col("n_hi"))))
        .withColumn("rn", row_number().over(candW)).where(col("rn") <= 40)
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(rerankW)).where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // Index-quality evaluation: recall@5 of the LSH ANN against the exact
    // brute-force top-5, per query — the "measure your index before you
    // trust it" operator every production ANN deployment runs after a
    // build. Composes the two declared pipelines (q_sim_lsh, q_sim_topk)
    // and reduces to one 10-row audit table; at 100 TB the exact side runs
    // on a sampled query set (queries are few — the corpus side is what
    // scales) and the semi-join/groupBy is query-sized, not corpus-sized.
    "q_ann_recall" -> ((s, d) => {
      val lsh = queries("q_sim_lsh")(s, d).select(col("q_id"), col("n_id"))
      val exact = LlmOps.queries("q_sim_topk")(s, d).select(col("q_id"), col("n_id"))
      val hits = exact.join(lsh, Seq("q_id", "n_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .withColumn("recall_e4", expr("n_hit * 10000L div 5"))
        .orderBy(col("q_id"))
    }),

    // Mutual k-NN GRAPH build over the whole corpus — the all-vectors
    // construction that feeds clustering/semdedup/manifold stages (every
    // ANN above answers per-QUERY; this materializes the graph). Blocking:
    // a dedicated 16-plane sign-LSH bucket (seed 13 — no structure shared
    // with q_sim_lsh's 8-plane or q_emb_rp's seed-7 set) probed at
    // Hamming ≤ 2 by exploding the 137 probe codes, so the corpus
    // self-join is a pure EQUI join on the bucket code — no broadcast,
    // no theta join; both sides shuffle-partition on the code. Scale
    // posture: 16 bits = 65 536 codes here and the plane count is the
    // dial (planes grow with log₂(corpus) to hold per-bucket occupancy
    // constant — the simhash band-bits argument); degenerate buckets shed
    // at MaxBucket like every LSH family. Per-pair work is one codegen'd
    // graft_float_dot; candidates collapse to top-3 per node, and an edge
    // survives only if MUTUAL (each endpoint in the other's top-3) — the
    // symmetric-graph contract downstream clustering expects. The oracle
    // reproduces buckets (plane literals), the cap, candidates
    // (BIT_COUNT(XOR) ≤ 2 ≡ the 137 probes), ranks, and mutuality.
    "q_knn_graph" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val e = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
        .withColumn("b", signBucket(col("embedding"), knnPlanes))
      val kept = e.groupBy(col("b")).agg(count(lit(1)).as("bn"))
        .where(col("bn") <= graft.ops.LlmOps.MaxBucket).select(col("b"))
      val sig = e.join(kept, Seq("b"), "left_semi")
      val corpus = sig.select(col("b").as("nb"), col("vec_id").as("n_id"),
                              col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      val probes = sig.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                              col("nrm").as("q_nrm"),
        explode(expr(
          """concat(array(b),
            |  transform(sequence(0, 15), k -> b ^ shiftleft(1, k)),
            |  flatten(transform(sequence(0, 14), k1 ->
            |    transform(sequence(k1 + 1, 15), k2 ->
            |      b ^ shiftleft(1, k1) ^ shiftleft(1, k2)))))""".stripMargin).cast("array<int>"))
          .as("probe"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      // probe codes are distinct ints per q, so a (q, n) pair matches at
      // most one probe row — no distinct needed (the embcos_lsh argument)
      val knn = probes.join(corpus, col("probe") === col("nb") && col("q_id") =!= col("n_id"))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("q_id").as("u"), col("n_id").as("v"),
                round(col("score") * 10000).cast("int").as("score_e4"))
      knn.join(knn.select(col("v").as("u"), col("u").as("v")), Seq("u", "v"), "left_semi")
        .where(col("u") < col("v"))
        .orderBy(col("u"), col("v"))
    }),

    // Matryoshka (MRL) truncation audit: recall@5 of the 16-dim PREFIX
    // ranking against the full 64-dim ranking — the evaluation a serving
    // team runs before shipping truncated embeddings (4× memory/compute
    // cut; is the quality there?). ONE pair scan computes both cosines
    // (the prefix dot is a slice of the same codegen graft_float_dot),
    // two rank windows share it, and the overlap join touches only the
    // two top-5 sets. Query side is the bounded vec_id<10 panel — the
    // q_sim_topk exact-baseline family; corpus-scale truncation eval
    // swaps the panel for a hash sample.
    "q_emb_matryoshka" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val emb = Tables.embeddings(s, d)
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val pairs = emb.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"))
        .crossJoin(broadcast(q))
        .withColumn("s_full", expr(
          """graft_float_dot(q_emb, n_emb) /
            |  (sqrt(graft_float_dot(q_emb, q_emb)) *
            |   sqrt(graft_float_dot(n_emb, n_emb)))""".stripMargin))
        .withColumn("s_16", expr(
          """graft_float_dot(slice(q_emb, 1, 16), slice(n_emb, 1, 16)) /
            |  (sqrt(graft_float_dot(slice(q_emb, 1, 16), slice(q_emb, 1, 16))) *
            |   sqrt(graft_float_dot(slice(n_emb, 1, 16), slice(n_emb, 1, 16))))"""
            .stripMargin))
      val wF = Window.partitionBy(col("q_id")).orderBy(col("s_full").desc, col("n_id"))
      val wT = Window.partitionBy(col("q_id")).orderBy(col("s_16").desc, col("n_id"))
      val ranked = pairs
        .withColumn("rf", row_number().over(wF))
        .withColumn("rt", row_number().over(wT))
      val fullTop = ranked.where(col("rf") <= 5).select(col("q_id"), col("n_id"))
      val truncTop = ranked.where(col("rt") <= 5).select(col("q_id"), col("n_id"))
      q.select(col("q_id"))
        .join(fullTop.join(truncTop, Seq("q_id", "n_id"))
                .groupBy(col("q_id")).agg(count(lit(1)).as("n_overlap")),
              Seq("q_id"), "left")
        .na.fill(0L, Seq("n_overlap"))
        .select(col("q_id"), col("n_overlap"),
                (col("n_overlap") * 2000).as("recall_e4"))
        .orderBy(col("q_id"))
    }),
  )

  override def oracles: Map[String, String] = {
    // The ±1 hyperplanes ride into the SQL as literal rows, so the oracle
    // computes the very same buckets the engine does. "Probe = own ∪
    // Hamming-1 ∪ Hamming-2 buckets" is equivalently BIT_COUNT(XOR) ≤ 2.
    val planeRows = planeSqlRows(planes, "        |    ")
    val lshSql =
      s"""WITH planes AS (
        |  SELECT * FROM (VALUES
        |    $planeRows) AS t(j, w)),
        |emb AS (SELECT vec_id, embedding FROM embeddings
        |        WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, w),
        |        s -> CAST(s[1] AS DOUBLE) * s[2])) > 0 THEN 1 << j ELSE 0 END) AS INTEGER) AS b
        |  FROM emb CROSS JOIN planes GROUP BY vec_id),
        |cand AS (
        |  SELECT q.vec_id AS q_id, n.vec_id AS n_id, q.embedding AS q_emb, n.embedding AS n_emb
        |  FROM emb q
        |  JOIN bkt qb ON q.vec_id = qb.vec_id
        |  JOIN bkt nb ON BIT_COUNT(XOR(qb.b, nb.b)) <= 2
        |  JOIN emb n ON n.vec_id = nb.vec_id
        |  WHERE q.vec_id < 10),
        |scored AS (
        |  SELECT q_id, n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |    / (SQRT(LIST_SUM(LIST_TRANSFORM(q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(n_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
        |  FROM cand)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
    val rpRows = planeSqlRows(rpPlanes, "        |    ")
    Map(
      "q_sim_lsh" -> lshSql,

      // Same ±1-plane-literal technique as q_sim_lsh, emitting the dot
      // products themselves (exact integer-in-double sums — see the query
      // comment) instead of sign buckets.
      "q_emb_rp" ->
        s"""WITH pl AS (
        |  SELECT * FROM (VALUES
        |    $rpRows) AS t(j, w))
        |SELECT e.vec_id, pl.j,
        |  CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.embedding, pl.w),
        |    s -> CAST(s[1] AS DOUBLE) * s[2])) * 10000) AS BIGINT) AS proj_e4
        |FROM embeddings e CROSS JOIN pl
        |ORDER BY e.vec_id, pl.j""".stripMargin,

      // Mirrors the RP prefilter stage by stage: same plane literals, same
      // projected-cosine candidate ranking (top-20), same exact re-rank.
      "q_sim_rp_topk" ->
        s"""WITH pl AS (
        |  SELECT * FROM (VALUES
        |    $rpRows) AS t(j, w)),
        |e0 AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |pj AS (SELECT e0.vec_id, pl.j,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e0.embedding, pl.w),
        |      s -> CAST(s[1] AS DOUBLE) * s[2])) AS p
        |  FROM e0 CROSS JOIN pl),
        |pv AS (SELECT vec_id, LIST(p ORDER BY j) AS parr FROM pj GROUP BY vec_id),
        |e AS (SELECT e0.vec_id, e0.embedding, e0.nrm, pv.parr,
        |        SQRT(LIST_SUM(LIST_TRANSFORM(pv.parr, x -> x * x))) AS pnrm
        |      FROM e0 JOIN pv ON e0.vec_id = pv.vec_id),
        |ez AS (SELECT * FROM e WHERE pnrm > 0),
        |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |         q.embedding AS q_emb, n.embedding AS n_emb,
        |         q.nrm AS q_nrm, n.nrm AS n_nrm,
        |         LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.parr, n.parr),
        |           s -> s[1] * s[2])) / (q.pnrm * n.pnrm) AS p_score
        |       FROM ez q, ez n WHERE q.vec_id < 10),
        |cand AS (SELECT q_id, n_id, q_emb, n_emb, q_nrm, n_nrm FROM (
        |  SELECT q_id, n_id, q_emb, n_emb, q_nrm, n_nrm,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY p_score DESC, n_id) AS rn
        |  FROM sc) t WHERE rn <= 40),
        |scored AS (SELECT q_id, n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (q_nrm * n_nrm) AS score
        |  FROM cand)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

      // Mirrors the binary-quantization pipeline stage by stage: the same
      // sign bits packed into the same two 32-bit halves (BIGINT-safe on
      // both engines), Hamming ranking by BIT_COUNT(XOR), exact re-rank.
      "q_sim_bq" ->
        """WITH e AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |code AS (SELECT vec_id,
        |    CAST(SUM(CASE WHEN embedding[j + 1] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS c_lo,
        |    CAST(SUM(CASE WHEN embedding[j + 33] > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS c_hi
        |  FROM e CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 31)) AS j) g
        |  GROUP BY vec_id),
        |sc AS (SELECT q.vec_id AS q_id, n.vec_id AS n_id,
        |    q.embedding AS q_emb, n.embedding AS n_emb, q.nrm AS q_nrm, n.nrm AS n_nrm,
        |    BIT_COUNT(XOR(qc.c_lo, nc.c_lo)) + BIT_COUNT(XOR(qc.c_hi, nc.c_hi)) AS hamm
        |  FROM e q, e n, code qc, code nc
        |  WHERE q.vec_id = qc.vec_id AND n.vec_id = nc.vec_id AND q.vec_id < 10),
        |cand AS (SELECT q_id, n_id, q_emb, n_emb, q_nrm, n_nrm FROM (
        |  SELECT q_id, n_id, q_emb, n_emb, q_nrm, n_nrm,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY hamm, n_id) AS rn
        |  FROM sc) t WHERE rn <= 40),
        |scored AS (SELECT q_id, n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))) / (q_nrm * n_nrm) AS score
        |  FROM cand)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

      // Recall@5 of the approximate index vs the exact ranking: both sides
      // are the VERBATIM declared oracles (nested as derived tables), so
      // this oracle is consistent-by-construction with theirs.
      "q_ann_recall" ->
        s"""WITH ex AS (SELECT q_id, n_id FROM (${LlmOps.oracles("q_sim_topk")}) t),
        |ap AS (SELECT q_id, n_id FROM ($lshSql) t),
        |hit AS (
        |  SELECT ex.q_id, CAST(COUNT(ap.n_id) AS BIGINT) AS n_hit
        |  FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.n_id = ap.n_id
        |  GROUP BY ex.q_id)
        |SELECT q_id, n_hit, n_hit * 10000 // 5 AS recall_e4
        |FROM hit ORDER BY q_id""".stripMargin,

      // Mirrors q_sim_pq stage by stage: same sampled codebooks (vec_id
      // 100-107 halves), same ascending-fold L2², same integer-1e-6 ADC,
      // same (value, id) tie-breaks — codes, candidates, and the re-ranked
      // top-5 reproduce exactly.
      "q_sim_pq" ->
        s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings
        |        WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |sides AS (SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
        |  FROM emb, (SELECT UNNEST(RANGE(0, 2)) AS s)),
        |cb AS (SELECT vec_id AS c_id, s, sub AS c_sub FROM sides
        |       WHERE vec_id BETWEEN 100 AND 107),
        |enc AS (SELECT vec_id AS n_id, s, c_id AS code FROM (
        |  SELECT v.vec_id, v.s, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.c_sub),
        |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), c.c_id) AS rn
        |  FROM sides v JOIN cb c ON v.s = c.s) t WHERE rn = 1),
        |dtab AS (SELECT q.vec_id AS q_id, c.s, c.c_id,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.sub, c.c_sub),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT) AS d_e6
        |  FROM sides q JOIN cb c ON q.s = c.s WHERE q.vec_id < 10),
        |adc AS (SELECT d.q_id, enc.n_id, SUM(d.d_e6) AS adc
        |        FROM enc JOIN dtab d ON enc.s = d.s AND enc.code = d.c_id
        |        GROUP BY d.q_id, enc.n_id),
        |cand AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
        |  FROM adc) t WHERE rn <= 20),
        |scored AS (SELECT cand.q_id, cand.n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(qe.embedding, ne.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |    / (SQRT(LIST_SUM(LIST_TRANSFORM(qe.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(ne.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
        |  FROM cand JOIN emb qe ON qe.vec_id = cand.q_id
        |            JOIN emb ne ON ne.vec_id = cand.n_id)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

      // q_sim_ivf's cell CTEs composed with q_sim_pq's code CTEs; the ADC
      // aggregate runs only over (query, vector) pairs whose vector sits
      // in one of the query's 2 probed cells.
      "q_sim_ivfpq" -> {
        def cos(a: String, b: String): String =
          s"""LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b),
             |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
             |    / (SQRT(LIST_SUM(LIST_TRANSFORM($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             |       * SQRT(LIST_SUM(LIST_TRANSFORM($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin
        s"""WITH emb AS (SELECT vec_id, embedding FROM embeddings
        |        WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM emb
        |      WHERE vec_id BETWEEN 100 AND 115),
        |asg AS (SELECT n_id, bucket FROM (
        |    SELECT e.vec_id AS n_id, c.c_id AS bucket,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY ${cos("e.embedding", "c.c_emb")} DESC, c.c_id) AS arn
        |    FROM emb e CROSS JOIN c) t WHERE arn = 1),
        |pr AS (SELECT q_id, bucket FROM (
        |    SELECT q.vec_id AS q_id, c.c_id AS bucket,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY ${cos("q.embedding", "c.c_emb")} DESC, c.c_id) AS prn
        |    FROM emb q CROSS JOIN c WHERE q.vec_id < 10) t WHERE prn <= 2),
        |sides AS (SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN embedding[1:32] ELSE embedding[33:64] END AS sub
        |  FROM emb, (SELECT UNNEST(RANGE(0, 2)) AS s)),
        |cb AS (SELECT vec_id AS c_id, s, sub AS c_sub FROM sides
        |       WHERE vec_id BETWEEN 100 AND 107),
        |enc AS (SELECT vec_id AS n_id, s, c_id AS code FROM (
        |  SELECT v.vec_id, v.s, c.c_id,
        |    ROW_NUMBER() OVER (PARTITION BY v.vec_id, v.s ORDER BY
        |      LIST_SUM(LIST_TRANSFORM(LIST_ZIP(v.sub, c.c_sub),
        |        p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |           * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), c.c_id) AS rn
        |  FROM sides v JOIN cb c ON v.s = c.s) t WHERE rn = 1),
        |dtab AS (SELECT q.vec_id AS q_id, c.s, c.c_id,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.sub, c.c_sub),
        |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
        |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))) * 1000000) AS BIGINT) AS d_e6
        |  FROM sides q JOIN cb c ON q.s = c.s WHERE q.vec_id < 10),
        |cells AS (SELECT DISTINCT pr.q_id, asg.n_id
        |          FROM pr JOIN asg ON pr.bucket = asg.bucket),
        |adc AS (SELECT d.q_id, enc.n_id, SUM(d.d_e6) AS adc
        |        FROM cells
        |        JOIN enc ON enc.n_id = cells.n_id
        |        JOIN dtab d ON enc.s = d.s AND enc.code = d.c_id
        |                   AND d.q_id = cells.q_id
        |        GROUP BY d.q_id, enc.n_id),
        |cand AS (SELECT q_id, n_id FROM (
        |  SELECT q_id, n_id, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc, n_id) AS rn
        |  FROM adc) t WHERE rn <= 20),
        |scored AS (SELECT cand.q_id, cand.n_id,
        |    ${cos("qe.embedding", "ne.embedding")} AS score
        |  FROM cand JOIN emb qe ON qe.vec_id = cand.q_id
        |            JOIN emb ne ON ne.vec_id = cand.n_id)
        |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
        |  SELECT q_id, n_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS INTEGER) AS rn
        |  FROM scored) t
        |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      },

      // Plane-literal technique on the seed-13 family; "137 probe codes"
      // is equivalently BIT_COUNT(XOR) ≤ 2, the MaxBucket shed and the
      // mutual-top-3 filter are mirrored stage by stage.
      "q_knn_graph" ->
        s"""WITH planes AS (
        |  SELECT * FROM (VALUES
        |    ${planeSqlRows(knnPlanes, "        |    ")}) AS t(j, w)),
        |emb AS (SELECT vec_id, embedding FROM embeddings
        |        WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |bkt AS (
        |  SELECT vec_id,
        |    CAST(SUM(CASE WHEN LIST_SUM(LIST_TRANSFORM(LIST_ZIP(embedding, w),
        |        s -> CAST(s[1] AS DOUBLE) * s[2])) > 0 THEN 1 << j ELSE 0 END) AS INTEGER) AS b
        |  FROM emb CROSS JOIN planes GROUP BY vec_id),
        |kept AS (SELECT b FROM bkt GROUP BY b HAVING COUNT(*) <= 64),
        |sig AS (SELECT bkt.vec_id, bkt.b FROM bkt JOIN kept ON bkt.b = kept.b),
        |scored AS (
        |  SELECT qb.vec_id AS q_id, nb.vec_id AS n_id,
        |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.embedding, n.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |    / (SQRT(LIST_SUM(LIST_TRANSFORM(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |       * SQRT(LIST_SUM(LIST_TRANSFORM(n.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS score
        |  FROM sig qb
        |  JOIN sig nb ON BIT_COUNT(XOR(qb.b, nb.b)) <= 2 AND qb.vec_id <> nb.vec_id
        |  JOIN emb q ON q.vec_id = qb.vec_id
        |  JOIN emb n ON n.vec_id = nb.vec_id),
        |knn AS (
        |  SELECT q_id AS u, n_id AS v,
        |    CAST(ROUND(score * 10000) AS INTEGER) AS score_e4,
        |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY score DESC, n_id) AS rn
        |  FROM scored)
        |SELECT k.u, k.v, k.score_e4
        |FROM knn k JOIN knn r ON k.u = r.v AND k.v = r.u AND r.rn <= 3
        |WHERE k.rn <= 3 AND k.u < k.v
        |ORDER BY k.u, k.v""".stripMargin,

      "q_emb_matryoshka" ->
        """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb
          |           FROM embeddings WHERE vec_id < 10),
          |pairs AS (
          |  SELECT q.q_id, e.vec_id AS n_id,
          |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.q_emb, e.embedding),
          |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
          |    / (SQRT(LIST_SUM(LIST_TRANSFORM(q.q_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |       * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s_full,
          |    LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q.q_emb[1:16], e.embedding[1:16]),
          |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
          |    / (SQRT(LIST_SUM(LIST_TRANSFORM(q.q_emb[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          |       * SQRT(LIST_SUM(LIST_TRANSFORM(e.embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS s_16
          |  FROM embeddings e CROSS JOIN q),
          |ranked AS (
          |  SELECT q_id, n_id,
          |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s_full DESC, n_id) AS rf,
          |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s_16 DESC, n_id) AS rt
          |  FROM pairs),
          |ovl AS (
          |  SELECT f.q_id, COUNT(*) AS n_overlap
          |  FROM (SELECT q_id, n_id FROM ranked WHERE rf <= 5) f
          |  JOIN (SELECT q_id, n_id FROM ranked WHERE rt <= 5) t
          |    ON f.q_id = t.q_id AND f.n_id = t.n_id
          |  GROUP BY f.q_id)
          |SELECT q.q_id, CAST(COALESCE(ovl.n_overlap, 0) AS BIGINT) AS n_overlap,
          |  CAST(COALESCE(ovl.n_overlap, 0) * 2000 AS BIGINT) AS recall_e4
          |FROM q LEFT JOIN ovl ON q.q_id = ovl.q_id
          |ORDER BY q.q_id""".stripMargin,
    )
  }
}
