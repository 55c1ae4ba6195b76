package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-batch construction operators (round 3 of the G2 LLM-pipeline
  * extension, `BASELINE.json:6`): sequence packing, stratified sampling,
  * SemDeDup-style embedding dedup, and a k-means Lloyd step — the stages
  * between "curated corpus" and "training batches".
  *
  * Scale posture:
  * - Packing is a per-stream running sum (one shuffle on the stream key +
  *   an ordered partition walk). True first-fit bin packing is inherently
  *   sequential; the fixed-stride variant here keeps the same token-budget
  *   contract while staying a pure window computation — the only
  *   formulation that parallelizes over 1000 executors.
  * - Stratified sampling is a pure per-row predicate (md5 of the key vs a
  *   per-stratum threshold): no RNG state, no coordination, reproducible
  *   across engines/retries/partitionings, and it pushes down to the scan.
  * - SemDeDup: the quadratic cosine check runs only WITHIN a centroid
  *   bucket (the SemDeDup paper's trick) — centroids broadcast, one
  *   shuffle on bucket id, per-bucket pair counts bounded by bucket size,
  *   never an all-pairs join over the corpus.
  * - K-means: centroids broadcast for assignment (linear scan); the update
  *   is a (bucket, dim) partial aggregation — the textbook distributed
  *   Lloyd step. Dimension sums ride exact integer 2^-20 units so the
  *   updated centroids (and therefore the next assignment) are bit-equal
  *   on both engines (D1 discipline applied to vector math).
  */
object TrainingOps extends OpModule {

  /** Exact double cosine for the DuckDB twins (embcos-proven bit-exact vs
    * the staged-norm FloatDot form). */
  private[graft] def duckCos(a: String, b: String): String =
    s"""LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b),
       |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
       |    / (SQRT(LIST_SUM(LIST_TRANSFORM($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |       * SQRT(LIST_SUM(LIST_TRANSFORM($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** The √n codebook-stride derivation as DuckDB SQL over a corpus CTE —
    * the oracle twin of [[graft.sources.AnnIndex.seedStride]]: both
    * engines compute GREATEST(ceil(√n), ceil(n/65536), 1) from the same
    * non-zero-norm corpus (IEEE double sqrt/ceil are bit-identical), so
    * training replays with no serialized literal even though the stride
    * is data-dependent. */
  private[graft] def strideSql(src: String): String =
    s"""(SELECT GREATEST(CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT),
       |          CAST(CEIL(COUNT(*) / 65536.0) AS BIGINT), 1) FROM $src)""".stripMargin

  /** Non-zero-norm embeddings with staged norms (cosine is undefined for
    * zero vectors; excluded identically on both sides). */
  private[graft] def nzEmbeddings(s: SparkSession, d: String): DataFrame = {
    graft.functions.FloatDot.register(s)
    Tables.embeddings(s, d)
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      .where(col("nrm") > 0)
  }

  /** The q_sim_ivf_kmeans replay: stride seeds → one exact-integer Lloyd
    * step → trained cells → assign/probe/rank. Shared with the recall
    * oracle so both pin the SAME index. */
  private[graft] def simIvfKmeansOracle: String = {
    val cosES = duckCos("e.embedding", "sd.c_emb")
    val cosEC1 = duckCos("e.embedding", "c1.c_emb")
    val cosQC1 = duckCos("q.q_emb", "c1.c_emb")
    val cosQN = duckCos("pr.q_emb", "asg.n_emb")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
       |sd AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e
       |       WHERE vec_id % ${strideSql("e")} = 0),
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
       |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e WHERE vec_id < 10),
       |pr AS (SELECT q_id, q_emb, bucket FROM (
       |    SELECT q.q_id, q.q_emb, c1.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY q.q_id
       |        ORDER BY $cosQC1 DESC, c1.c_id) AS prn
       |    FROM q CROSS JOIN c1) t WHERE prn <= 2)
       |SELECT q_id, n_id, CAST(ROUND(score * 10000) AS INTEGER) AS score_e4, rn FROM (
       |  SELECT pr.q_id, asg.n_id, $cosQN AS score,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY pr.q_id
       |      ORDER BY $cosQN DESC, asg.n_id) AS INTEGER) AS rn
       |  FROM asg JOIN pr ON asg.bucket = pr.bucket) t
       |WHERE rn <= 5
       |ORDER BY q_id, rn""".stripMargin
  }

  /** The BPE training replay shared by both oracles: word-freq table →
    * spaced chars (original word carried through) → 6 argmax+merge CTEs. */
  private def bpeChainSql: String = {
    def pairsFrom(w: String): String =
      s"""SELECT UNNEST(LIST_TRANSFORM(RANGE(0, LEN(STRING_SPLIT(s, ' ')) - 1),
         |      j -> STRING_SPLIT(s, ' ')[CAST(j + 1 AS INT)] || ' ' ||
         |           STRING_SPLIT(s, ' ')[CAST(j + 2 AS INT)])) AS pr, freq
         |    FROM $w""".stripMargin
    val steps = (1 to 6).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS (SELECT pr, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
         |${pairsFrom(prev)}) t
         |  GROUP BY pr ORDER BY cnt DESC, pr LIMIT 1),
         |w$i AS (SELECT w, TRIM(REPLACE(' ' || s || ' ',
         |          ' ' || (SELECT pr FROM p$i) || ' ',
         |          ' ' || REPLACE((SELECT pr FROM p$i), ' ', '') || ' ')) AS s,
         |        freq FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
       |    FROM documents) t
       |  WHERE w <> '' GROUP BY w),
       |w0 AS (SELECT w, ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(1, LENGTH(w) + 1),
       |          i -> SUBSTR(w, CAST(i AS INT), 1)), ' ') || ' </w>' AS s,
       |        freq FROM wf),
       |$steps""".stripMargin
  }

  /** The distributed BPE training loop shared by q_bpe_train/q_bpe_apply:
    * ONE corpus scan into the distinct-word frequency table (kept with the
    * original word `w` so apply can map words to their tokenization), then
    * 6 fixed merge steps, each one vocab-sized aggregate + a delimiter-
    * anchored merge rewrite. Returns (words after all merges, the learned
    * merges as (step, pair, count)). */
  private def bpeTrain(s: SparkSession,
                       d: String): (DataFrame, Seq[(Long, String, Long)]) = {
    var words = Tables.documents(s, d)
      .select(explode(split(trim(lower(col("text"))), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), concat(
          concat_ws(" ", expr(
            "transform(sequence(1, length(w)), i -> substring(w, cast(i as int), 1))")),
          lit(" </w>")).as("s"), col("freq"))
      .localCheckpoint() // bounded: one row per distinct word
    val merges = Seq.newBuilder[(Long, String, Long)]
    for (step <- 1 to 6) { // FIXED iteration count
      val top = words
        .select(col("freq"), explode(expr(
          """transform(sequence(0, size(split(s, ' ')) - 2),
            |  j -> concat(element_at(split(s, ' '), j + 1), ' ',
            |              element_at(split(s, ' '), j + 2)))""".stripMargin))
          .as("pr"))
        .groupBy(col("pr")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pr")).limit(1)
        .collect()(0)
      val pr = top.getString(0); val cnt = top.getLong(1)
      merges += ((step.toLong, pr, cnt))
      val merged = pr.replace(" ", "")
      val (prQ, mergedQ) = (pr.replace("'", "''"), merged.replace("'", "''"))
      words = words.select(col("w"),
        expr(s"trim(replace(concat(' ', s, ' '), ' $prQ ', ' $mergedQ '))")
          .as("s"), col("freq"))
    }
    (words, merges.result())
  }

  /** Nearest-centroid assignment (cosine, ties to the lowest centroid
    * id). Winner per token = max(struct(c_score,
    * −c_id, …)) — identical to the former row_number window ordered by
    * (c_score desc, c_id asc): the struct comparator settles on (score,
    * −c_id), which is unique per candidate, before ever reaching the
    * payload fields, and score NaNs cannot occur (both sides filter
    * nrm > 0). The aggregate partially reduces map-side like the window
    * plan's WindowGroupLimit did, but replaces the post-shuffle Sort +
    * Window + rank-filter pass with the aggregate's final merge — one
    * operator pass less over the assignment (r14 optimization; measured
    * 2.1 → 1.65 s on the 10× tier, assignments bit-identical).
    *
    * `carry` names extra `vecs` columns (functionally dependent on n_id —
    * e.g. the doc id / filter attribute of an index build) to ride
    * through the aggregate, so callers stop paying a corpus-sized
    * join-back on n_id to recover them; the comparator never reaches the
    * carried fields (the (score, −c_id) prefix is already unique). */
  private[graft] def assign(vecs: DataFrame, cents: DataFrame,
                            carry: Seq[String] = Nil): DataFrame =
    vecs.join(broadcast(cents))
      .withColumn("c_score",
        expr("graft_float_dot(n_emb, c_emb)") / (col("n_nrm") * col("c_nrm")))
      .groupBy(col("n_id"))
      .agg(max(struct(Seq(col("c_score"), (-col("c_id")).as("nc"),
                      col("n_emb"), col("n_nrm")) ++ carry.map(col): _*)).as("m"))
      .select(Seq(col("n_id"), col("m.n_emb").as("n_emb"),
              col("m.n_nrm").as("n_nrm"), (-col("m.nc")).as("bucket")) ++
        carry.map(c => col(s"m.$c").as(c)): _*)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // DSIR-style importance resampling (Xie et al. 2023): rank raw-corpus
    // documents by how much their hashed-n-gram distribution looks like a
    // TARGET domain (here lang='en'). Features = md5-28-bit word-BIGRAM
    // buckets mod 4096 (the engine-portable hash idiom; a FIXED feature width is
    // the method — no vocabulary, no OOV); per-bucket importance =
    // ln(p_target(b)) − ln(p_raw(b)) with +1 smoothing, rounded to 1e-6
    // integer units PER BUCKET (4096 values — order-independent integer
    // sums from there on; ln-at-fixed-point is the q_survival_km
    // convention). Per-doc score = Σ over its tokens of the bucket weight;
    // output = top-20 docs by score. Shapes at 100 TB: ONE token scan into
    // the (bucket, counts) table (4096 rows — broadcast), one more token
    // scan joined against it (map-side), partial-agg per doc, TakeOrdered.
    // No vocabulary join, no pair work — linear in tokens.
    "q_dsir_sample" -> ((s, d) => {
      // word-BIGRAM features: this corpus shares one small vocabulary
      // across languages (31 distinct tokens — languages differ only in
      // co-occurrence), so unigram ratios carry almost no signal; bigrams
      // separate the domains completely (spec pins 15+ of the top-20 in
      // the target domain)
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
                split(trim(col("text")), " ").as("toks"))
        .select(col("doc_id"), col("lang"), explode(expr(
          """case when size(toks) < 2 then array()
            |else transform(sequence(0, size(toks) - 2),
            |       i -> concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2)))
            |end""".stripMargin)).as("t"))
        .withColumn("b",
          expr("cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint) % 4096"))
      // the bucket table is BOUNDED (≤4096 rows) and referenced by two
      // separate ACTIONS (the totals collect and the weight join) — an
      // eager localCheckpoint makes the token scan that builds it run ONCE
      // (ReuseExchange cannot dedupe across actions); without it the tok
      // lineage ran three times: totals, the w derivation, the join probe
      val grp = tok.groupBy(col("b"))
        .agg(count(lit(1)).as("n_r"),
             sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_t"))
        .localCheckpoint()
      val totals = grp.agg(sum(col("n_r")), sum(col("n_t"))).collect()(0)
      val nRd = (totals.getLong(0) + 4096).toDouble
      val nTd = (totals.getLong(1) + 4096).toDouble
      val w = grp.select(col("b"),
        round((log((col("n_t") + 1) / lit(nTd)) -
               log((col("n_r") + 1) / lit(nRd))) * 1e6).cast("long").as("w"))
      tok.join(broadcast(w), "b")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_gram"), sum(col("w")).as("dsir_e6"))
        // rank by PER-TOKEN fit (total weight conflates length with
        // domain resemblance); the ratio of two exact integers through
        // IEEE double division is identical on both engines
        .orderBy((col("dsir_e6").cast("double") / col("n_gram")).desc,
                 col("doc_id"))
        .limit(20)
    }),

    // k-center greedy / farthest-point coreset selection (Sener & Savarese
    // 2018's diversity-sampling core): 8 rounds, each adding the point
    // farthest (squared euclid, e6-integer units, vec_id tie-break) from
    // the selected set. The selected set is DRIVER state (8 rows of 64
    // floats — the 1-row-election pattern per round, never data-sized);
    // every round is one scan computing LEAST over ≤8 codegen'd FloatDot
    // distances (d² = self + c_self − 2·a·b — norms staged once) and a
    // TakeOrdered(1). At 100 TB: k scans of the embedding corpus, zero
    // shuffles, zero pair joins — the honest cost of exact greedy; a
    // production k in the thousands would stage it over an ANN index
    // (q_sim_ivf's) instead. Rounding to e6 BEFORE LEAST/argmax makes the
    // trajectory bit-identical to the oracle's unrolled 8-level replay.
    "q_kcenter" -> ((s, d) => {
      import s.implicits._
      graft.functions.FloatDot.register(s)
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
                expr("graft_float_dot(embedding, embedding)").as("self"))
      // each election CARRIES the winning embedding through the argmax
      // (embedding is functionally dependent on the vec_id group key), so
      // no round needs a second corpus scan to re-fetch the winner's
      // vector: k scans total, not 2k+1
      def center(r: org.apache.spark.sql.Row): (Long, Seq[Float], Double) =
        (r.getLong(0), r.getSeq[Float](1), r.getDouble(2))
      val firstRow = emb.orderBy(col("vec_id")).limit(1).collect()(0)
      var selected = List((1, 0L, center(firstRow))) // (round, d_e6, center)
      for (r <- 2 to 8) {
        val cents = selected.map { case (_, _, (id, v, sf)) => (id, v, sf) }
          .toDF("c_id", "c_emb", "c_self")
        val pick = emb.join(broadcast(cents)) // 8-row nested-loop broadcast
          .withColumn("de6",
            round((col("self") + col("c_self") -
                   lit(2.0) * expr("graft_float_dot(embedding, c_emb)")) * 1e6)
              .cast("long"))
          .groupBy(col("vec_id"))
          .agg(min(col("de6")).as("md"),
               first(col("embedding")).as("embedding"),
               first(col("self")).as("self"))
          .orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("embedding"), col("self"), col("md"))
          .collect()(0)
        selected = selected :+ ((r, pick.getLong(3), center(pick)))
      }
      selected.map { case (r, de6, (id, _, _)) => (r, id, de6) }
        .toDF("rnd", "vec_id", "d_e6")
        .orderBy(col("rnd"))
    }),

    // The hashing trick (Weinberger et al. 2009): fixed-width (64-bucket)
    // hashed term-frequency features per document — the featurizer behind
    // fastText-style quality classifiers at corpus scale. The POINT at
    // 100 TB: no vocabulary table exists, so there is no vocab build, no
    // vocab broadcast/join, no OOV path — ONE token scan straight into a
    // (doc, bucket) partial→final count, and the feature width is a
    // constant the classifier owns. Bucket = md5-28-bit % 64 (the
    // engine-portable hash idiom); long-form sparse output (doc_id,
    // bucket, tf), no array columns.
    "q_feat_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
        .withColumn("bucket",
          expr("cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint) % 64"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("tf"))
        .orderBy(col("doc_id"), col("bucket"))),

    // Token-budget sequence packing: per language stream, documents are
    // walked in doc_id order and chunked into bins of 2048 tokens
    // (fixed-stride: a bin closes when the running count crosses the
    // budget, so a bin can exceed it by at most one document — the
    // deterministic, shuffle-once variant of greedy packing).
    "q_pack_seq" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
                size(split(trim(col("text")), " ")).cast("long").as("n_tok"))
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      toks.withColumn("cum", sum(col("n_tok")).over(w))
        .withColumn("bin", expr("(cum - n_tok) div 2048"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok_sum"),
             min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("bin"))
    }),

    // Exact ROC AUC by rank statistic (Mann–Whitney U) — the classifier
    // gate a quality-filter model ships through. "Score" = n_chars
    // predicting lang='en' (a deterministic stand-in with real ties; the
    // operator is the statistic, not the model). No pair scan and no
    // global row sort: scores aggregate to (score, pos, neg) cells first,
    // U accumulates over the cell table with a cumulative window — the
    // ×2 integer tie convention (ties count ½) keeps every term exact.
    // The only unpartitioned window runs over the AGGREGATED cell table
    // (bounded by distinct scores), the DistRank single-partition rule.
    "q_auc" -> ((s, d) => {
      val sc = Tables.documents(s, d)
        .select((col("lang") === "en").cast("long").as("y"), col("n_chars").as("sv"))
      val byS = sc.groupBy(col("sv"))
        .agg(sum(col("y")).as("pos"), (count(lit(1)) - sum(col("y"))).as("neg"))
      val wB = Window.orderBy(col("sv")).rowsBetween(Window.unboundedPreceding, -1)
      byS.withColumn("neg_below", coalesce(sum(col("neg")).over(wB), lit(0L)))
        .agg(sum(expr("2 * pos * neg_below + pos * neg")).as("u2"),
             sum(col("pos")).as("n_pos"), sum(col("neg")).as("n_neg"))
        .select(col("n_pos"), col("n_neg"),
                expr("u2 * 10000 div (2 * n_pos * n_neg)").as("auc_e4"))
    }),

    // Decile lift / cumulative-gains table — AUC's operational sibling:
    // rank by score descending, cut into 10 equal tiles, report each
    // tile's positives and the cumulative capture rate. The global rank
    // rides DistRank's two-pass histogram (no single-task sort of the
    // corpus); NTILE derives from the tie-free rank by pure integer
    // arithmetic, so DuckDB's native NTILE over the same total order
    // agrees bit for bit.
    "q_lift_curve" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), (col("lang") === "en").cast("long").as("y"),
                col("n_chars"))
      val ranked = DistRank.withGlobalRank(scored, -col("n_chars"), col("doc_id"),
                                           50L, "rnk", "n")
      val dec = ranked
        .withColumn("decile", DistRank.ntileFromRank("rnk", "n", 10))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"), sum(col("y")).as("n_pos"))
      val wCum = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      dec
        .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
        .withColumn("tot_pos", sum(col("n_pos")).over(Window.partitionBy()))
        .select(col("decile"), col("n_docs"), col("n_pos"),
                expr("cum_pos * 10000 div tot_pos").as("capture_e4"))
        .orderBy(col("decile"))
    }),

    // T5-style span corruption: length-3 token spans masked on a
    // deterministic per-doc phase (span starts at positions ≡ doc_id mod 13
    // — ~23% corruption, the published T5 operating point is 15%/len-3),
    // span COLLAPSED to one sentinel (the first position keeps '<X>', the
    // rest drop), and the corrupted sequence fingerprinted by md5 so the
    // oracle pins the reconstruction byte for byte, not just the mask
    // counts. One posexplode + one ordered per-doc aggregate — the same
    // user-key shuffle shape as every per-doc op; span selection is pure
    // arithmetic on token position (a seeded-hash selector would shuffle
    // the same bytes through md5 — the phase IS the seed here).
    // FILL-IN-THE-MIDDLE (FIM) transform — the code-model pretraining op
    // (the OpenAI FIM recipe): a deterministic half of the documents is
    // re-ordered into PSM form (<PRE> prefix <SUF> suffix <MID> middle) so
    // the model learns infilling, the rest pass through unchanged
    // (left-to-right mass preserved). Split points derive from doc_id —
    // reproducible, no RNG: prefix = 20–60% of tokens, middle = a third
    // of the remainder. Pure per-row array surgery (split/slice/concat,
    // all codegen'd); the md5 pins the EXACT transformed sample, not just
    // its shape. At 100 TB: embarrassingly parallel, zero shuffles.
    "q_fim" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(trim(lower(col("text"))), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("fim", col("n") >= 8 && col("doc_id") % 2 === 0)
        .withColumn("p", expr("(n * (doc_id % 5 + 2)) div 10"))
        .withColumn("m", expr("greatest((n - p) div 3, 1L)"))
        .withColumn("sample", when(col("fim"),
            concat_ws(" ",
              lit("<PRE>"),
              concat_ws(" ", expr("slice(toks, 1, cast(p as int))")),
              lit("<SUF>"),
              concat_ws(" ", expr("slice(toks, cast(p + m + 1 as int), cast(n - p - m as int))")),
              lit("<MID>"),
              concat_ws(" ", expr("slice(toks, cast(p + 1 as int), cast(m as int))"))))
          .otherwise(concat_ws(" ", col("toks"))))
        .select(col("doc_id"), col("n").as("n_tok"),
                when(col("fim"), 1L).otherwise(0L).as("is_fim"),
                col("p"), col("m"), md5(col("sample")).as("sample_md5"))
        .orderBy(col("doc_id"))),

    "q_span_corrupt" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"),
                posexplode(split(trim(lower(col("text"))), " ")).as(Seq("pos", "tok")))
        .withColumn("off", expr("(pos - doc_id % 13 + 13) % 13"))
      val kept = toks
        .where(col("off") >= 3 || col("off") === 0)
        .withColumn("out_tok", when(col("off") === 0, lit("<X>")).otherwise(col("tok")))
      val agg = kept.groupBy(col("doc_id"))
        .agg(expr("""md5(concat_ws(' ', transform(
             |  array_sort(collect_list(struct(pos, out_tok))),
             |  x -> x.out_tok)))""".stripMargin).as("corrupted_md5"))
      val stats = toks.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             sum(when(col("off") < 3, 1L).otherwise(0L)).as("n_masked"))
      stats.join(agg, "doc_id")
        .select(col("doc_id"), col("n_tokens"), col("n_masked"),
                expr("n_masked * 10000 div n_tokens").as("pct_e4"),
                col("corrupted_md5"))
        .orderBy(col("doc_id"))
    }),

    // BPE VOCABULARY INDUCTION (Sennrich et al. 2016) — the tokenizer-
    // training pipeline stage itself, distributed: words become spaced
    // symbol sequences ('h i </w>'), and each of 6 merge steps is ONE
    // corpus-wide aggregate — count adjacent symbol pairs weighted by word
    // frequency, take the argmax (ties to the lexicographically smallest
    // pair), then apply the merge as a delimiter-anchored string REPLACE
    // over the word table. The word-frequency table is the ONLY corpus
    // scan; every iteration runs over that bounded distinct-word frame
    // (localCheckpointed once — the bounded-derived-frame rule), so the
    // whole training costs one corpus pass + 6 vocab-sized aggregates. The
    // iteration count is FIXED (never data-scaled — the recorded driver-
    // loop rule). Merge application note: the space-delimited REPLACE
    // consumes its trailing delimiter, so back-to-back repeats ('l l l')
    // merge alternately — both engines implement the identical scan, and
    // the oracle replays all 6 steps, so the learned merges, their counts,
    // AND the resulting symbol inventory are hash-pinned. At 100 TB: the
    // word-freq table is the classic first reduce (vocab ≪ corpus); each
    // merge step is a broadcast-sized argmax + a map-only rewrite of the
    // vocab — tokenizer training never rescans the corpus.
    "q_bpe_train" -> ((s, d) => {
      val (words, merges) = bpeTrain(s, d)
      val vocab = words
        .select(col("freq"), explode(split(col("s"), " ")).as("sym"))
        .groupBy(col("sym")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("sym")).limit(10)
        .select(lit(7L).as("step"), col("sym").as("item"), col("cnt"))
      import s.implicits._
      merges.toDF("step", "item", "cnt")
        .unionByName(vocab)
        .orderBy(col("step"), col("item"))
    }),

    // THE LEARNED TOKENIZER APPLIED (the train→apply pipeline pair): the
    // corpus is tokenized under q_bpe_train's 6 merges at VOCAB cost, not
    // corpus cost — merges apply once per DISTINCT word (the bounded word
    // table), and the corpus pass is a broadcast join of exploded words
    // against that word→token-count map. Per-doc output: words, BPE
    // tokens, and tokens-per-word in e4 — the number a data-budget
    // planner actually consumes. At 100 TB this is how tokenizer-aware
    // token accounting runs: vocab-sized tokenization + one map-side
    // corpus join, never per-document merge loops.
    "q_bpe_apply" -> ((s, d) => {
      val (words, _) = bpeTrain(s, d)
      val tokMap = words.select(col("w"),
        size(split(col("s"), " ")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"),
                explode(split(trim(lower(col("text"))), " ")).as("w"))
        .where(col("w") =!= "")
        .join(broadcast(tokMap), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
        .withColumn("tpw_e4", expr("n_tokens * 10000L div n_words"))
        .orderBy(col("doc_id"))
    }),

    // TOKENIZER AS A TABLE — the trained BPE vocabulary persisted as an
    // ordinary store artifact (w → symbol count in the amt slot) and
    // apply served FROM the store: the persisted-artifact posture the
    // index family established (q_sim_ivf_indexed / q_bm25_indexed),
    // applied to the training-data pipeline's tokenizer. Train once,
    // commit atomically, every downstream token-accounting job broadcast-
    // joins the artifact instead of re-deriving the merge chain — at
    // 100 TB the vocabulary is KB-sized metadata while retraining is a
    // corpus scan. Shares q_bpe_apply's oracle verbatim: the round-trip
    // through disk must lose nothing.
    "q_bpe_apply_indexed" -> ((s, d) => {
      val art = s"target/tmp/idx_bpevocab_${java.lang.Integer.toHexString(d.hashCode)}"
      val fsys = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fsys.delete(new org.apache.hadoop.fs.Path(art), true)
      val (words, _) = bpeTrain(s, d)
      graft.sources.Sources.withStorePath(s, art) {
        s.sql("ALTER TABLE graft.store ADD COLUMN w STRING")
        words.select(
            row_number().over(Window.orderBy(col("w"))).cast("long").as("k"),
            lit("v").as("grp"),
            size(split(col("s"), " ")).cast("long").as("amt_cents"),
            col("w"))
          .write.format("graft.sources.StoreSink").mode("append")
          .option("path", art).save()
      }
      val vocab = s.read.format("graft.sources.StoreSink")
        .option("path", art).load()
        .select(col("w"), col("amt_cents").as("n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"),
                explode(split(trim(lower(col("text"))), " ")).as("w"))
        .where(col("w") =!= "")
        .join(broadcast(vocab), "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("n_sym")).as("n_tokens"))
        .withColumn("tpw_e4", expr("n_tokens * 10000L div n_words"))
        .orderBy(col("doc_id"))
    }),

    // TOKEN-BUDGET APPORTIONMENT (largest-remainder / Hamilton method):
    // split a 1e6-token training budget across languages proportionally
    // to their corpus token mass, in EXACT integer arithmetic — floor
    // shares first, then the leftover seats go to the largest remainders
    // (ties to the smaller language code). This is the mixture-planning
    // step between token accounting (q_bpe_apply) and the per-epoch
    // samplers; the allocation sums to the budget EXACTLY by
    // construction, which floating-point proportional splits cannot
    // promise. Metadata-sized: one aggregate + an L-row window.
    "q_tok_budget" -> ((s, d) => {
      val byLang = Tables.documents(s, d)
        .select(col("lang"),
                size(split(trim(lower(col("text"))), " ")).cast("long").as("n"))
        .groupBy(col("lang")).agg(sum(col("n")).as("toks"))
      byLang
        .crossJoin(byLang.agg(sum(col("toks")).as("total")))
        .withColumn("floor_share", expr("toks * 1000000L div total"))
        .withColumn("rem", expr("toks * 1000000L % total"))
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("lang"))))
        .withColumn("leftover",
          expr("1000000L - sum(floor_share) over ()"))
        .withColumn("budget",
          expr("floor_share + case when rr <= leftover then 1 else 0 end"))
        .select(col("lang"), col("toks"), col("budget"))
        .orderBy(col("lang"))
    }),

    // Stratified deterministic sampling: per-language rates (en 5%, de 25%,
    // fr 50%, other 10%) applied via the first md5 byte of the key — the
    // q_sample_hash predicate generalized to per-stratum thresholds.
    "q_sample_strat" -> ((s, d) => {
      val rate = when(col("lang") === "en", 13)
        .when(col("lang") === "de", 64)
        .when(col("lang") === "fr", 128)
        .otherwise(26)
      Tables.documents(s, d)
        .where(conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") < rate)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: embeddings are bucketed by nearest coarse centroid and the
    // exact pairwise cosine check runs only within a bucket; a vector is
    // dropped when a same-bucket near-duplicate with a smaller id exists.
    // Output: per-bucket membership and drop counts.
    "q_semdedup" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val cents = nz.where(col("vec_id").between(100, 115))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      val a = assign(
        nz.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("nrm").as("n_nrm")),
        cents)
      val lhs = a.select(col("bucket"), col("n_id").as("va"), col("n_emb").as("ea"), col("n_nrm").as("na"))
      val rhs = a.select(col("bucket").as("bucket_b"), col("n_id").as("vb"),
                         col("n_emb").as("eb"), col("n_nrm").as("nb"))
      val dropped = lhs.join(rhs, col("bucket") === col("bucket_b") && col("va") < col("vb"))
        .where(expr("graft_float_dot(ea, eb)") / (col("na") * col("nb")) >= 0.35)
        .select(col("bucket"), col("vb")).distinct()
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_dropped"))
      a.groupBy(col("bucket")).agg(count(lit(1)).as("n_members"))
        .join(dropped, Seq("bucket"), "left")
        .select(col("bucket"), col("n_members"),
                coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy(col("bucket"))
    }),

    // One distributed Lloyd iteration: assign to the 16 fixed centroids,
    // recompute each centroid as the per-dimension mean of its members
    // (exact 2^-20-unit integer sums → bit-equal centroids cross-engine),
    // reassign against the updated centroids. Output: per-bucket counts
    // before and after the update — the observable of the iteration.
    "q_emb_kmeans" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val vecs = nz.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
      val cents0 = nz.where(col("vec_id").between(100, 115))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
      val a1 = assign(vecs, cents0)
      val cents1 = a1
        .select(col("bucket"), posexplode(col("n_emb")).as(Seq("idx", "v")))
        .groupBy(col("bucket"), col("idx"))
        .agg(expr("sum(cast(round(cast(v as double) * 1048576) as bigint))").as("sv"),
             count(lit(1)).as("n"))
        .groupBy(col("bucket"))
        .agg(expr("transform(array_sort(collect_list(struct(idx, (sv / 1048576.0) / n as val))), p -> cast(p.val as float))")
          .as("c_emb"))
        .select(col("bucket").as("c_id"), col("c_emb"),
                sqrt(expr("graft_float_dot(c_emb, c_emb)")).as("c_nrm"))
      val a2 = assign(vecs, cents1)
      val n1 = a1.groupBy(col("bucket")).agg(count(lit(1)).as("n_first"))
      val n2 = a2.groupBy(col("bucket")).agg(count(lit(1)).as("n_second"))
      n1.join(n2, Seq("bucket"), "full")
        .select(col("bucket"), coalesce(col("n_first"), lit(0L)).as("n_first"),
                coalesce(col("n_second"), lit(0L)).as("n_second"))
        .orderBy(col("bucket"))
    }),

    // IVF with a TRAINED codebook (VERDICT r8 #4): the coarse quantizer's
    // centroids are no longer raw corpus vectors but a k-means-refined
    // codebook — √n-DERIVED stride seeds (k ≈ √n: the blocking-key rule
    // AND a bounded centroid broadcast; round-12 verdict #1) refined by one exact
    // 2^-20-integer Lloyd step (q_emb_kmeans's bit-stable arithmetic, so
    // the converged centroids — and therefore cells, candidates, and the
    // recall curve — are reproducible in the oracle by replaying the same
    // step). Vectors assign to their nearest trained cell, queries probe
    // their 2 nearest, exact ranking only inside probed cells. Trained
    // cells track the data distribution, so occupancy is more even than
    // raw-vector seeds at equal k — better recall at equal probe cost
    // (measured in q_ann_recall_kmeans). At 100 TB: k grows as √n, Lloyd
    // steps are each one scan + a k×dim broadcast-sized reduce, and
    // assignment is the FAISS-IVF n·k map stage — the SCALE.md form this
    // query pins the plan shape of.
    "q_sim_ivf_kmeans" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      // √n-cardinality codebook: stride derives from the corpus count
      // (AnnIndex.seedStride — the oracle replays the same formula via
      // strideSql), so k ≈ √n and the centroid broadcast stays bounded
      val stride = graft.sources.AnnIndex.seedStride(nz.count())
      val vecs = nz.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                           col("nrm").as("n_nrm"))
      val seeds = nz.where(pmod(col("vec_id"), lit(stride)) === 0)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                col("nrm").as("c_nrm"))
      val a1 = assign(vecs, seeds)
      val trained = a1
        .select(col("bucket"), posexplode(col("n_emb")).as(Seq("idx", "v")))
        .groupBy(col("bucket"), col("idx"))
        .agg(expr("sum(cast(round(cast(v as double) * 1048576) as bigint))").as("sv"),
             count(lit(1)).as("n"))
        .groupBy(col("bucket"))
        .agg(expr("transform(array_sort(collect_list(struct(idx, (sv / 1048576.0) / n as val))), p -> cast(p.val as float))")
          .as("c_emb"))
        .select(col("bucket").as("c_id"), col("c_emb"),
                sqrt(expr("graft_float_dot(c_emb, c_emb)")).as("c_nrm"))
      val assigned = assign(vecs, trained)
      val wProbe = Window.partitionBy(col("q_id")).orderBy(col("p_score").desc, col("c_id"))
      val probes = nz.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"))
        .join(broadcast(trained))
        .withColumn("p_score",
          expr("graft_float_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm")))
        .withColumn("prn", row_number().over(wProbe))
        .where(col("prn") <= 2)
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("c_id").as("bucket"))
      val wTop = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("n_id"))
      assigned.join(broadcast(probes), "bucket")
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wTop))
        .where(col("rn") <= 5)
        .select(col("q_id"), col("n_id"),
                round(col("score") * 10000).cast("int").as("score_e4"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // LATE-INTERACTION (multi-vector) RETRIEVAL — the ColBERT MaxSim
    // kernel: entities are GROUPS of token vectors (here vec_id div 10),
    // and score(q, d) = Σ over q's tokens of the MAX cosine against any
    // of d's tokens — relevance that single-vector pooling erases (a doc
    // matching every query facet with different tokens outranks one
    // matching one facet well). Exact baseline: one cross join of query
    // tokens × corpus tokens, then two integer aggregates (max per
    // (token, doc), sum per doc) after the ONE e6 rounding — the embcos
    // determinism technique, so both engines rank identically. The
    // brute-force token join is the declared exact baseline; the IVF
    // twin below is the sublinear path.
    "q_sim_maxsim" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val q = nz.where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("maxsim_e6").desc, col("d_id"))
      nz.where(col("vec_id") >= 20)
        .select(expr("vec_id div 10").as("d_id"),
                col("embedding").as("t_emb"), col("nrm").as("t_nrm"))
        .crossJoin(broadcast(q))
        .withColumn("cos_e6",
          round(expr("graft_float_dot(q_emb, t_emb)")
            / (col("q_nrm") * col("t_nrm")) * 1e6).cast("long"))
        .groupBy(col("q_id"), col("qt"), col("d_id"))
        .agg(max(col("cos_e6")).as("m"))
        .groupBy(col("q_id"), col("d_id")).agg(sum(col("m")).as("maxsim_e6"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select(col("q_id"), col("d_id"), col("maxsim_e6"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // MaxSim over an IVF-pruned candidate set — the PLAID/ColBERTv2
    // serving shape, two stages: (1) CANDIDATE GENERATION — corpus
    // tokens assign once to √n stride-seeded cells, each query token
    // probes its 4 nearest, and a doc is a candidate when ANY of its
    // tokens lands in a probed cell; (2) EXACT REFINEMENT — the full
    // MaxSim kernel runs on the candidate docs alone, so ranking inside
    // the candidate set is exact (recall is purely a candidate-coverage
    // question, the PLAID contract). At 100 TB cells ≈ √n, a query
    // probes 4·|tokens| of them, and refinement touches the docs those
    // cells name — both stages sublinear in the corpus. Same two integer
    // aggregates after the one e6 rounding; the oracle replays seeding,
    // assignment, probing, candidacy, and the kernel.
    "q_sim_maxsim_ivf" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val stride = graft.sources.AnnIndex.seedStride(nz.count())
      val seeds = nz.where(pmod(col("vec_id"), lit(stride)) === 0)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                col("nrm").as("c_nrm"))
      val tvecs = nz.where(col("vec_id") >= 20)
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                col("nrm").as("n_nrm"))
      val asg = assign(tvecs, seeds)
      val wP = Window.partitionBy(col("qt"))
        .orderBy(col("p_score").desc, col("c_id"))
      val q = nz.where(col("vec_id") < 20)
        .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
                col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val probedCells = q
        .join(broadcast(seeds))
        .withColumn("p_score",
          expr("graft_float_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm")))
        .withColumn("prn", row_number().over(wP)).where(col("prn") <= 4)
        .select(col("q_id"), col("c_id").as("bucket")).distinct()
      val cand = asg.join(broadcast(probedCells), "bucket")
        .select(col("q_id"), expr("n_id div 10").as("d_id")).distinct()
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("maxsim_e6").desc, col("d_id"))
      tvecs.select(expr("n_id div 10").as("d_id"), col("n_emb"), col("n_nrm"))
        .join(broadcast(cand), "d_id")
        .join(broadcast(q), "q_id")
        .withColumn("cos_e6",
          round(expr("graft_float_dot(q_emb, n_emb)")
            / (col("q_nrm") * col("n_nrm")) * 1e6).cast("long"))
        .groupBy(col("q_id"), col("qt"), col("d_id"))
        .agg(max(col("cos_e6")).as("m"))
        .groupBy(col("q_id"), col("d_id")).agg(sum(col("m")).as("maxsim_e6"))
        .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
        .select(col("q_id"), col("d_id"), col("maxsim_e6"), col("rn"))
        .orderBy(col("q_id"), col("rn"))
    }),

    // MaxSim index quality: recall@5 of the IVF-pruned late-interaction
    // ranking against the exact kernel, per query group — the measured
    // price of the per-token candidate cut (missing contributions read
    // as 0). Both pipelines replay in ONE oracle (shared corpus CTEs),
    // so the recall numbers are hash-pinned like every other recall row.
    "q_ann_recall_maxsim" -> ((s, d) => {
      val exact = queries("q_sim_maxsim")(s, d)
        .select(col("q_id"), col("d_id")).localCheckpoint() // ≤ 5/query
      val ivf = queries("q_sim_maxsim_ivf")(s, d)
        .select(col("q_id"), col("d_id"))
      val hits = exact.join(ivf, Seq("q_id", "d_id"), "left_semi")
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
      exact.select(col("q_id")).distinct()
        .join(hits, Seq("q_id"), "left")
        .select(col("q_id"),
                expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
        .orderBy(col("q_id"))
    }),

    // Index-quality comparison: recall@5 per query for the fixed-16-cell
    // IVF (q_sim_ivf) and the trained-codebook IVF (q_sim_ivf_kmeans),
    // both against the exact brute-force top-5 (q_sim_topk) — the
    // q_ann_recall posture extended to an A/B between quantizers. The
    // oracle replays all three pipelines, so the recall numbers themselves
    // are hash-pinned, not just spot-checked.
    "q_ann_recall_kmeans" -> ((s, d) => {
      val exact = LlmOps.queries("q_sim_topk")(s, d).select(col("q_id"), col("n_id"))
      def recallOf(ann: DataFrame, variant: String): DataFrame = {
        val hits = exact.join(ann.select(col("q_id"), col("n_id")),
            Seq("q_id", "n_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(lit(variant).as("variant"), col("q_id"),
                  expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
      }
      recallOf(PipelineOps.queries("q_sim_ivf")(s, d), "ivf16")
        .unionByName(recallOf(queries("q_sim_ivf_kmeans")(s, d), "kmeans"))
        .orderBy(col("variant"), col("q_id"))
    }),

    // Symmetric int8 quantization of the embedding column — the 4× storage/
    // bandwidth cut that makes 100 TB ANN shippable (int8 codes + one f32
    // scale per vector; dot products run in int arithmetic downstream).
    // Pure map-stage column math, no shuffle, pushdown-safe. Determinism:
    // round-half-up is spelled FLOOR(x + 0.5) — identical semantics on both
    // engines — over doubles derived identically from the same floats, and
    // |v| ≤ amax guarantees codes land in [-127, 127] with no clamp branch.
    // Zero vectors carry no direction — excluded on both sides (as in
    // q_semdedup). The max dequantization error rides along in 1e-6 units:
    // a quantizer regression (wrong scale, truncation instead of rounding)
    // breaks the hash match.
    "q_emb_quantize" -> ((s, d) =>
      Tables.embeddings(s, d)
        .withColumn("amax",
          expr("aggregate(embedding, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double))))"))
        .where(col("amax") > 0)
        .withColumn("scale", col("amax") / 127)
        .select(
          col("vec_id"),
          expr("cast(round(scale * 1e9) as bigint)").as("scale_e9"),
          expr("array_join(transform(embedding, x -> cast(cast(floor(cast(x as double) / scale + 0.5d) as int) as string)), ',')").as("q_csv"),
          expr("cast(round(aggregate(embedding, cast(0.0 as double), (a, x) -> greatest(a, abs(floor(cast(x as double) / scale + 0.5d) * scale - cast(x as double)))) * 1e6) as bigint)").as("max_err_e6"))
        .orderBy(col("vec_id"))),

    // MATRYOSHKA (MRL) TRUNCATION EVAL — the dimension-budget dial of
    // embedding serving: MRL-trained embeddings promise that a PREFIX of
    // the vector is itself a usable embedding, so a 100 TB pipeline can
    // index/serve at 8 or 32 dims and rerank at full width. This query
    // measures what that buys: recall@5 of cosine ranking over the
    // first k dims (k = 8, 32) against the full-dimension exact top-5,
    // per query. Zero-norm PREFIXES are excluded like zero vectors
    // (cosine undefined), identically on both engines. The whole
    // comparison is the brute-force kernel on sliced arrays — slicing
    // is free column math, and the recall curve is the number an
    // operator reads before choosing the serving width.
    "q_mrl_recall" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val qv = nz.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
                col("nrm").as("q_nrm"))
      val wTop = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("n_id"))
      val exact = nz
        .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                col("nrm").as("n_nrm"))
        .join(broadcast(qv))
        .withColumn("score",
          expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
        .withColumn("rn", row_number().over(wTop)).where(col("rn") <= 5)
        .select(col("q_id"), col("n_id")).localCheckpoint() // 5/query
      def trunc(k: Int): DataFrame = {
        val tq = nz.where(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"),
                  expr(s"slice(embedding, 1, $k)").as("q_emb"))
          .withColumn("q_nrm", sqrt(expr("graft_float_dot(q_emb, q_emb)")))
          .where(col("q_nrm") > 0)
        nz.select(col("vec_id").as("n_id"),
                  expr(s"slice(embedding, 1, $k)").as("n_emb"))
          .withColumn("n_nrm", sqrt(expr("graft_float_dot(n_emb, n_emb)")))
          .where(col("n_nrm") > 0)
          .join(broadcast(tq))
          .withColumn("score",
            expr("graft_float_dot(q_emb, n_emb)") / (col("q_nrm") * col("n_nrm")))
          .withColumn("rn", row_number().over(wTop)).where(col("rn") <= 5)
          .select(col("q_id"), col("n_id"))
      }
      def recallOf(ann: DataFrame, variant: String): DataFrame = {
        val hits = exact.join(ann, Seq("q_id", "n_id"), "left_semi")
          .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
        exact.select(col("q_id")).distinct()
          .join(hits, Seq("q_id"), "left")
          .select(lit(variant).as("variant"), col("q_id"),
                  expr("coalesce(n_hit, 0L) * 10000L div 5").as("recall_e4"))
      }
      recallOf(trunc(8), "d08").unionByName(recallOf(trunc(32), "d32"))
        .orderBy(col("variant"), col("q_id"))
    }),

    // Training-mixture construction: per-source sampling WEIGHTS (not just
    // rates) — upweight curated sources, downweight noisy ones — applied
    // through the same deterministic md5-threshold predicate as
    // q_sample_strat, with repetition for weights > 1 (a doc in a 1.5×
    // source appears once always plus a second time with p=0.5, via a
    // thresholded epoch explode). Map-only + one explode, reproducible
    // across engines/retries; the audit reports per-source input/output
    // counts. This is the "data mixing" stage that turns curated corpora
    // into a training distribution.
    // Annealed mixture SCHEDULE (the multi-epoch data plan q_data_mix's
    // single-shot weights feed into): epoch 0 samples domains at their
    // NATURAL corpus proportions, the final epoch at UNIFORM, and the
    // epochs between interpolate linearly — the standard anneal from
    // web-scale distribution toward balanced domains late in training.
    // Everything is exact integer arithmetic in 1e-4 units (start/uniform/
    // interpolation all integer-division closed forms), so the schedule —
    // and the per-epoch document budgets it implies — is bit-stable at any
    // SF. Metadata-sized: one aggregate over the corpus, then a 4×L plan
    // frame; at 100 TB the schedule is the driver-side input to the
    // per-epoch weighted samplers (q_sample_weighted), never a data pass.
    "q_mix_anneal" -> ((s, d) => {
      val byLang = Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = byLang.agg(sum(col("n")).as("total"), count(lit(1)).as("langs"))
      byLang.crossJoin(tot)
        .withColumn("start_e4", expr("n * 10000L div total"))
        .withColumn("uni_e4", expr("10000L div langs"))
        .withColumn("epoch", explode(expr("sequence(0, 3)")))
        // convex form keeps every operand NON-NEGATIVE: Spark's `div`
        // truncates toward zero while DuckDB's `//` floors, so a negative
        // (uni - start) delta would round differently across engines
        .withColumn("w_e4",
          expr("(start_e4 * (3 - epoch) + uni_e4 * epoch) div 3"))
        .select(col("epoch").cast("long").as("epoch"), col("lang"), col("w_e4"),
                expr("w_e4 * total div 10000L").as("target_docs"))
        .orderBy(col("epoch"), col("lang"))
    }),

    // The schedule MATERIALIZED: each epoch's corpus is drawn by the
    // deterministic hash-threshold sampler at that epoch's annealed
    // per-domain weight — doc kept in epoch e iff its 16-bit md5 fraction
    // < w_e4(lang)·65536/10000 (integer cross-multiplication, no floats).
    // Sampling is per-row independent of epoch count, so the four epochs
    // are one explode over a broadcast 4×L schedule — no re-scan per
    // epoch; and because the hash is a pure function of doc_id, epoch
    // membership is REPRODUCIBLE (the property a resumable training run
    // needs: re-deriving epoch 2's corpus after a crash yields the same
    // documents). The audit compares drawn counts to the schedule's
    // targets per (epoch, lang).
    "q_mix_anneal_draw" -> ((s, d) => {
      val byLang = Tables.documents(s, d)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      val tot = byLang.agg(sum(col("n")).as("total"), count(lit(1)).as("langs"))
      val sched = byLang.crossJoin(tot)
        .withColumn("start_e4", expr("n * 10000L div total"))
        .withColumn("uni_e4", expr("10000L div langs"))
        .withColumn("epoch", explode(expr("sequence(0, 3)")))
        .withColumn("w_e4",
          expr("(start_e4 * (3 - epoch) + uni_e4 * epoch) div 3"))
        .select(col("epoch").cast("long").as("epoch"), col("lang"),
                col("w_e4"), expr("w_e4 * total div 10000L").as("target_docs"))
      val drawn = Tables.documents(s, d)
        .withColumn("b16",
          conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
            .cast("long"))
        .join(broadcast(sched), Seq("lang"))
        .where(expr("b16 * 10000L < w_e4 * 65536L"))
        .groupBy(col("epoch"), col("lang"))
        .agg(count(lit(1)).as("n_drawn"))
      sched.join(drawn, Seq("epoch", "lang"), "left")
        .select(col("epoch"), col("lang"), col("w_e4"), col("target_docs"),
                coalesce(col("n_drawn"), lit(0L)).as("n_drawn"))
        .orderBy(col("epoch"), col("lang"))
    }),

    // TEMPERATURE-SCALED mixture weights (the mT5/XLM-R multilingual
    // recipe, Xue et al. 2021 §3.3: q_l ∝ p_l^α with α = 0.7 — flattens
    // the natural distribution so low-resource languages up-sample
    // without drowning the head). Exactly ONE double operation per
    // language (the pow, rounded to e6 — ln-in-bm25 precedent); every
    // other step is integer div on non-negative operands (Spark `div`
    // truncates, DuckDB `//` floors — equal on non-negatives, the
    // q_mix_anneal rule). rate_e4 = q/p is the per-language sampling rate
    // a loader applies. Scale: one corpus scan for the per-language token
    // counts; the 5-row language table is eagerly localCheckpointed
    // (bounded-frame rule) so the totals/normalization stages never
    // re-derive the scan.
    "q_mix_temperature" -> ((s, d) => {
      val perLang = Tables.documents(s, d)
        .select(col("lang"),
          size(split(trim(col("text")), " ")).cast("long").as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_toks"))
        .localCheckpoint()
      val tot = perLang.agg(sum(col("n_toks")).as("nn"))
      val w = perLang.crossJoin(broadcast(tot))
        .withColumn("p_e6", expr("n_toks * 1000000 div nn"))
        .withColumn("pow_e6", expr(
          "cast(round(1e6 * power(cast(n_toks as double) / nn, 0.7)) as bigint)"))
      val sp = w.agg(sum(col("pow_e6")).as("sp"))
      w.crossJoin(broadcast(sp))
        .withColumn("q_e6", expr("pow_e6 * 1000000 div sp"))
        .select(col("lang"), col("n_docs"), col("n_toks"), col("p_e6"),
                col("q_e6"), expr("q_e6 * 10000 div p_e6").as("rate_e4"))
        .orderBy(col("lang"))
    }),

    "q_data_mix" -> ((s, d) => {
      // weight in 1e-2 units per source bucket (string ranges: src0 → 150%,
      // src1 + src10–19 → 50%, src2–9 → 100%)
      val w = when(col("source") < "src1", 150)
        .when(col("source") < "src2", 50).otherwise(100)
      Tables.documents(s, d)
        .withColumn("w_e2", w)
        .withColumn("b", conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int"))
        .withColumn("copies",
          expr("w_e2 div 100") +
          when(col("b") * 100 < (col("w_e2") % 100) * 256, 1).otherwise(0))
        // guard: Spark's sequence(1, 0) REVERSES to [1, 0] instead of
        // returning empty — dropped docs must be filtered out first
        .where(col("copies") > 0)
        .withColumn("epoch", explode(expr("sequence(1, copies)")))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
             count(lit(1)).as("n_emitted"))
        .orderBy(col("source"))
    }),

    // Deterministic train/val/test split: the first md5 byte of the key
    // buckets every document into train (<204, ~80%), val (<230, ~10%) or
    // test (~10%) — reproducible across engines, retries and repartitioning
    // (the q_sample_hash predicate, generalized to a partition function).
    // The audit reports per-(split, lang) counts plus id ranges; totals are
    // disjoint-and-complete by construction of the CASE.
    "q_dataset_split" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("b", conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int"))
        .withColumn("split",
          when(col("b") < 204, "train").when(col("b") < 230, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy(col("split"), col("lang"))),

    // Deterministic per-epoch shuffle order (the "reshuffle every epoch"
    // contract of a training dataloader, as a pure function): each epoch
    // permutes doc ids by an LCG position key (a_e·doc_id + b_e) mod P,
    // P = 1 000 003 prime, MINSTD-family multipliers per epoch — no RNG
    // state, reproducible across engines/retries/partitionings. Output =
    // the first 10 docs of each epoch's order. Scale posture: the naive
    // row_number-per-epoch form sorts the corpus once per epoch on ≤
    // n_epochs partitions; graft_topk pre-reduces every map task to 10
    // entries, so the shuffle carries O(epochs × 10) rows at any corpus
    // size (a full-order materialization at 100 TB would instead
    // range-partition by pos_key — same key, same function).
    "q_epoch_order" -> ((s, d) => {
      graft.functions.TopK.register(s)
      import s.implicits._
      val eps = Seq((0L, 48271L, 11L), (1L, 69621L, 37L), (2L, 40692L, 73L))
        .toDF("epoch", "ca", "cb")
      Tables.documents(s, d).select(col("doc_id"))
        .crossJoin(broadcast(eps))
        .withColumn("pos_key", expr("(ca * doc_id + cb) % 1000003"))
        .groupBy(col("epoch"))
        .agg(call_function("graft_topk", -col("pos_key"), col("doc_id"), lit(10)).as("top"))
        .select(col("epoch"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("epoch"), (col("pos") + 1).cast("int").as("rn"),
                col("t").getField("pl").as("doc_id"),
                (-col("t").getField("sk")).as("pos_key"))
        .orderBy(col("epoch"), col("rn"))
    }),

    // Curriculum staging: rank the corpus by a difficulty proxy (type-token
    // ratio — lexical diversity in 1e-4 units) and cut it into 4 equal
    // NTILE stages, easy → hard; the schedule audit reports each stage's
    // size, score range, and token budget. The global quartile runs on the
    // DistRank two-pass histogram rank (no single-partition sort — the
    // q_ccnet_bucket shape), so staging a 100 TB corpus shuffles a bounded
    // histogram plus one per-bucket local sort.
    "q_curriculum" -> ((s, d) => {
      val scored = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(lower(col("text"))), " ").as("tk"))
        .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
                size(array_distinct(col("tk"))).cast("long").as("n_types"))
        .withColumn("score_e4", expr("n_types * 10000 div n_tokens"))
      val ranked = DistRank.withGlobalRank(scored, col("score_e4"), col("doc_id"),
                                           bucketWidth = 100L, "rk", "n")
      ranked.withColumn("stage", DistRank.ntileFromRank("rk", "n", 4))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_docs"),
             min(col("score_e4")).as("min_score_e4"),
             max(col("score_e4")).as("max_score_e4"),
             sum(col("n_tokens")).as("sum_tokens"))
        .orderBy(col("stage"))
    }),

    // Nucleus (top-p) subset selection per language: keep the smallest
    // prefix of documents (by weight DESC, doc_id — total order) whose
    // cumulative weight reaches 80% of the language total; audit reports
    // per-language doc/weight retention. The "crossing" document is kept
    // (prefix-before-row < ceil(0.8·total)), matching sampling-nucleus
    // semantics. One lang-partitioned window walk + one aggregation; at a
    // 100 TB per-language volume the cumsum rides the DistRank histogram
    // rank per language (the q_ccnet_bucket composite-key shape) instead
    // of a 5-partition window — same arithmetic, bounded shuffle.
    "q_sample_topp" -> ((s, d) => {
      val wCum = Window.partitionBy(col("lang"))
        .orderBy(col("wt").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars").as("wt"))
        .withColumn("cum", sum(col("wt")).over(wCum))
        .withColumn("tot", sum(col("wt")).over(Window.partitionBy(col("lang"))))
        .withColumn("kept", col("cum") - col("wt") < expr("(tot * 4 + 4) div 5"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
             sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
             sum(col("wt")).as("w_total"),
             sum(when(col("kept"), col("wt")).otherwise(0L)).as("w_kept"))
        .orderBy(col("lang"))
    }),

    // Cluster-quality evaluation: the k-means assignment (round 1, same
    // centroids as q_emb_kmeans) scored against the ground-truth `label`
    // column — per-cluster size, majority label (count DESC, label — D3
    // tie-break) and purity in 1e-4 units. The external-validation step
    // every embedding-clustering pipeline runs before trusting its
    // buckets. Centroids broadcast; majority vote is a window over the
    // (bucket, label) AGGREGATE (≤ |buckets|·|labels| rows, corpus-
    // independent), so nothing beyond the assignment shuffle scales with
    // the data.
    "q_cluster_purity" -> ((s, d) => {
      val nz = nzEmbeddings(s, d)
      val vecs = nz.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
                           col("nrm").as("n_nrm"))
      val cents0 = nz.where(col("vec_id").between(100, 115))
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
                col("nrm").as("c_nrm"))
      val lab = Tables.embeddings(s, d).select(col("vec_id").as("n_id"), col("label"))
      val cl = assign(vecs, cents0).join(lab, "n_id")
        .groupBy(col("bucket"), col("label")).agg(count(lit(1)).as("c"))
      val wMaj = Window.partitionBy(col("bucket")).orderBy(col("c").desc, col("label"))
      cl.withColumn("rn", row_number().over(wMaj))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("bucket"))))
        .where(col("rn") === 1)
        .select(col("bucket"), col("n"), col("label").as("maj_label"),
                col("c").as("maj_n"), expr("c * 10000 div n").as("purity_e4"))
        .orderBy(col("bucket"))
    }),

    // Linear-classifier scoring at corpus scale — the fasttext-style
    // quality-filter deployment shape: hashed token features (q_feat_hash's
    // 64-bucket space) dotted with a BROADCAST weight vector, one pass, no
    // model server. Weights are deterministic synthetic (md5 of the bucket
    // id → integer 1e-4 units in [−1, 1]) so the oracle re-derives the
    // exact same model; a real deployment swaps the weight table for a
    // trained one — the plan is identical. Score stays an exact long
    // (tf × w_e4 summed); the per-token normalization is integer div.
    "q_linear_clf" -> ((s, d) => {
      val weights = s.range(64)
        .select(col("id").as("bucket"), expr(
          "cast(conv(substring(md5(cast(id as string)), 1, 7), 16, 10) as bigint) % 20001 - 10000")
          .as("w_e4"))
      val feats = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
        .withColumn("bucket",
          expr("cast(conv(substring(md5(t), 1, 7), 16, 10) as bigint) % 64"))
        .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("tf"))
      feats.join(broadcast(weights), "bucket")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n_tok"),
             sum(col("tf") * col("w_e4")).as("score_e4"))
        .select(col("doc_id"), col("n_tok"), col("score_e4"),
                // round-of-double, NOT integer div: scores go negative and
                // Spark `div` truncates while DuckDB `//` floors
                expr("cast(round(cast(score_e4 as double) / n_tok) as bigint)")
                  .as("per_tok_e4"),
                (col("score_e4") >= 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Split-distribution parity: Kolmogorov–Smirnov distance of the
    // n_chars distribution between each pair of q_dataset_split's
    // train/val/test splits — the "is val drawn from the same
    // distribution as train" audit run before trusting a validation
    // curve. Everything is exact: per-(bucket, split) counts, cumulative
    // sums over the ~15-bucket grid, and the max |CDF gap| compared by
    // integer cross-multiplication (|cum_a·n_b − cum_b·n_a|), with ONE
    // round at 1e4 per pair. The corpus pass is one aggregate; the KS
    // machinery runs on the bucket table. (Products stay < 2^63 up to
    // ~3e9 rows/split — rescale cum to per-mille first beyond that.)
    "q_split_parity" -> ((s, d) => {
      val byB = Tables.documents(s, d)
        .withColumn("b", conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int"))
        .withColumn("split",
          when(col("b") < 204, "train").when(col("b") < 230, "val").otherwise("test"))
        .withColumn("bkt", expr("n_chars div 100"))
        .groupBy(col("bkt"))
        .agg(sum(when(col("split") === "train", 1L).otherwise(0L)).as("ct"),
             sum(when(col("split") === "val", 1L).otherwise(0L)).as("cv"),
             sum(when(col("split") === "test", 1L).otherwise(0L)).as("cs"))
      val w = Window.orderBy(col("bkt"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = byB.agg(sum(col("ct")).as("n_t"), sum(col("cv")).as("n_v"),
                        sum(col("cs")).as("n_s"))
      byB.select(col("bkt"), sum(col("ct")).over(w).as("cum_t"),
                 sum(col("cv")).over(w).as("cum_v"), sum(col("cs")).over(w).as("cum_s"))
        .crossJoin(broadcast(tot))
        .agg(max(abs(col("cum_t") * col("n_v") - col("cum_v") * col("n_t"))).as("d_tv"),
             max(abs(col("cum_t") * col("n_s") - col("cum_s") * col("n_t"))).as("d_ts"),
             max(abs(col("cum_v") * col("n_s") - col("cum_s") * col("n_v"))).as("d_vs"),
             max(col("n_t")).as("n_t"), max(col("n_v")).as("n_v"), max(col("n_s")).as("n_s"))
        .select(expr("""stack(3, 'train_val', n_t, n_v, d_tv,
                       |         'train_test', n_t, n_s, d_ts,
                       |         'val_test', n_v, n_s, d_vs) as (pair, n_a, n_b, d)"""
          .stripMargin))
        .select(col("pair"), col("n_a"), col("n_b"),
                expr("cast(round(1e4 * cast(d as double) / (n_a * n_b)) as bigint)")
                  .as("ks_e4"))
        .orderBy(col("pair"))
    }),
  )

  /** Shared oracle CTE: non-zero embeddings + initial centroids + first
    * nearest-centroid assignment (mirrors q_sim_ivf's proven shape). */
  private def duckAssignCte: String = {
    val cosEC = duckCos("e.embedding", "c.c_emb")
    s"""e AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
       |c AS (SELECT vec_id AS c_id, embedding AS c_emb FROM e WHERE vec_id BETWEEN 100 AND 115),
       |a1 AS (SELECT n_id, n_emb, bucket FROM (
       |    SELECT e.vec_id AS n_id, e.embedding AS n_emb, c.c_id AS bucket,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY $cosEC DESC, c.c_id) AS arn
       |    FROM e CROSS JOIN c) t WHERE arn = 1)""".stripMargin
  }

  /** DuckDB double dot (embcos-proven bit-exact vs FloatDot). */
  private def duckDot(a: String, b: String): String =
    s"LIST_SUM(LIST_TRANSFORM(LIST_ZIP($a, $b), s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))"

  /** q_kcenter's oracle: the greedy trajectory unrolled to 8 levels —
    * selection at every level happens over e6-INTEGER distances with the
    * vec_id tie-break, exactly like the Spark side, so the replay is exact. */
  private val KCenterOracle: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, embedding,
      |  LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS self
      |  FROM embeddings),
      |c1 AS (SELECT * FROM e ORDER BY vec_id LIMIT 1),
      |d1 AS (SELECT e.vec_id,
      |  CAST(ROUND((e.self + c1.self - 2 * ${duckDot("e.embedding", "c1.embedding")}) * 1000000) AS BIGINT) AS md
      |  FROM e, c1)""".stripMargin
    for (r <- 2 to 8) {
      sb ++= s""",
        |p$r AS (SELECT vec_id, md FROM d${r - 1} ORDER BY md DESC, vec_id LIMIT 1),
        |c$r AS (SELECT e.* FROM e JOIN p$r USING (vec_id))""".stripMargin
      if (r < 8) sb ++= s""",
        |d$r AS (SELECT d${r - 1}.vec_id, LEAST(d${r - 1}.md,
        |  CAST(ROUND((e.self + c$r.self - 2 * ${duckDot("e.embedding", s"c$r.embedding")}) * 1000000) AS BIGINT)) AS md
        |  FROM d${r - 1} JOIN e USING (vec_id), c$r)""".stripMargin
    }
    sb ++= "\nSELECT CAST(1 AS INTEGER) AS rnd, (SELECT vec_id FROM c1) AS vec_id, CAST(0 AS BIGINT) AS d_e6"
    for (r <- 2 to 8)
      sb ++= s"\nUNION ALL SELECT $r, (SELECT vec_id FROM p$r), (SELECT md FROM p$r)"
    sb ++= "\nORDER BY rnd"
    sb.toString
  }

  override def oracles: Map[String, String] = Map(
    // bucket weights from exact counts; ln at 1e-6 integer units per
    // bucket, integer sums per doc — the engines must agree bit for bit
    "q_dsir_sample" ->
      """WITH base AS (
        |  SELECT doc_id, lang, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |tok AS (
        |  SELECT doc_id, lang,
        |    UNNEST(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 1, 0)),
        |      i -> toks[i + 1] || ' ' || toks[i + 2])) AS t
        |  FROM base),
        |tk AS (SELECT doc_id, lang,
        |         CAST(('0x' || SUBSTR(md5(t), 1, 7)) AS BIGINT) % 4096 AS b
        |       FROM tok),
        |grp AS (SELECT b, COUNT(*) AS n_r,
        |          SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS n_t
        |        FROM tk GROUP BY b),
        |tot AS (SELECT CAST(SUM(n_r) AS BIGINT) AS nr, CAST(SUM(n_t) AS BIGINT) AS nt FROM grp),
        |w AS (SELECT grp.b,
        |        CAST(ROUND((LN((n_t + 1) / (nt + 4096.0))
        |                    - LN((n_r + 1) / (nr + 4096.0))) * 1000000) AS BIGINT) AS w
        |      FROM grp, tot)
        |SELECT tk.doc_id, COUNT(*) AS n_gram, CAST(SUM(w.w) AS BIGINT) AS dsir_e6
        |FROM tk JOIN w USING (b)
        |GROUP BY tk.doc_id
        |ORDER BY CAST(SUM(w.w) AS DOUBLE) / COUNT(*) DESC, doc_id LIMIT 20""".stripMargin,

    "q_kcenter" -> KCenterOracle,

    "q_feat_hash" ->
      """SELECT doc_id,
        |  CAST(('0x' || SUBSTR(md5(t), 1, 7)) AS BIGINT) % 64 AS bucket,
        |  COUNT(*) AS tf
        |FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |      FROM documents)
        |GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,

    "q_pack_seq" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    CAST(LEN(STRING_SPLIT(TRIM(text), ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, lang, n_tok,
        |    CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM toks)
        |SELECT lang, CAST((cum - n_tok) // 2048 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok_sum,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c GROUP BY lang, (cum - n_tok) // 2048
        |ORDER BY lang, bin""".stripMargin,

    "q_auc" ->
      """WITH sc AS (
        |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, n_chars AS sv
        |  FROM documents),
        |cell AS (
        |  SELECT sv, CAST(SUM(y) AS BIGINT) AS pos,
        |         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        |  FROM sc GROUP BY sv),
        |cum AS (
        |  SELECT pos, neg,
        |    COALESCE(SUM(neg) OVER (ORDER BY sv
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
        |  FROM cell)
        |SELECT CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg,
        |  CAST(SUM(2 * pos * neg_below + pos * neg) * 10000
        |       // (2 * SUM(pos) * SUM(neg)) AS BIGINT) AS auc_e4
        |FROM cum""".stripMargin,

    "q_lift_curve" ->
      """WITH r AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
        |    NTILE(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        |  FROM documents),
        |dec AS (
        |  SELECT CAST(decile AS INTEGER) AS decile, COUNT(*) AS n_docs,
        |         CAST(SUM(y) AS BIGINT) AS n_pos
        |  FROM r GROUP BY decile)
        |SELECT decile, n_docs, n_pos,
        |  CAST(SUM(n_pos) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
        |    // SUM(n_pos) OVER () AS BIGINT) AS capture_e4
        |FROM dec ORDER BY decile""".stripMargin,

    // same slices in DuckDB list arithmetic (list_slice is END-inclusive
    // where Spark's slice takes a LENGTH — bounds translated accordingly)
    "q_fim" ->
      """WITH tk AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, toks, CAST(LEN(toks) AS BIGINT) AS n FROM tk),
        |c AS (SELECT doc_id, toks, n,
        |        (n >= 8 AND doc_id % 2 = 0) AS fim,
        |        (n * (doc_id % 5 + 2)) // 10 AS p
        |      FROM b),
        |e AS (SELECT *, GREATEST((n - p) // 3, 1) AS m FROM c)
        |SELECT doc_id, n AS n_tok,
        |  CAST(CASE WHEN fim THEN 1 ELSE 0 END AS BIGINT) AS is_fim,
        |  CAST(p AS BIGINT) AS p, CAST(m AS BIGINT) AS m,
        |  md5(CASE WHEN fim THEN
        |    '<PRE> ' || ARRAY_TO_STRING(list_slice(toks, 1, CAST(p AS INT)), ' ') ||
        |    ' <SUF> ' || ARRAY_TO_STRING(list_slice(toks, CAST(p + m + 1 AS INT), CAST(n AS INT)), ' ') ||
        |    ' <MID> ' || ARRAY_TO_STRING(list_slice(toks, CAST(p + 1 AS INT), CAST(p + m AS INT)), ' ')
        |    ELSE ARRAY_TO_STRING(toks, ' ') END) AS sample_md5
        |FROM e ORDER BY doc_id""".stripMargin,

    "q_span_corrupt" ->
      """WITH tk AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |ps AS (
        |  SELECT doc_id, UNNEST(RANGE(0, LEN(toks))) AS pos, toks FROM tk),
        |tok AS (
        |  SELECT doc_id, pos, LIST_EXTRACT(toks, CAST(pos + 1 AS INT)) AS tok,
        |         (pos - doc_id % 13 + 13) % 13 AS off
        |  FROM ps),
        |kept AS (
        |  SELECT doc_id, pos, CASE WHEN off = 0 THEN '<X>' ELSE tok END AS out_tok
        |  FROM tok WHERE off >= 3 OR off = 0),
        |agg AS (
        |  SELECT doc_id, md5(STRING_AGG(out_tok, ' ' ORDER BY pos)) AS corrupted_md5
        |  FROM kept GROUP BY doc_id),
        |st AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens,
        |         CAST(SUM(CASE WHEN off < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |  FROM tok GROUP BY doc_id)
        |SELECT st.doc_id, st.n_tokens, st.n_masked,
        |  st.n_masked * 10000 // st.n_tokens AS pct_e4, agg.corrupted_md5
        |FROM st JOIN agg USING (doc_id) ORDER BY st.doc_id""".stripMargin,

    "q_sample_strat" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER)
        |      < CASE lang WHEN 'en' THEN 13 WHEN 'de' THEN 64
        |                  WHEN 'fr' THEN 128 ELSE 26 END
        |ORDER BY doc_id""".stripMargin,

    "q_semdedup" -> {
      val cosAB = duckCos("a.n_emb", "b.n_emb")
      s"""WITH $duckAssignCte,
         |drops AS (
         |  SELECT DISTINCT a.bucket, b.n_id AS vb
         |  FROM a1 a JOIN a1 b ON a.bucket = b.bucket AND a.n_id < b.n_id
         |  WHERE $cosAB >= 0.35),
         |dc AS (SELECT bucket, COUNT(*) AS n_dropped FROM drops GROUP BY bucket)
         |SELECT m.bucket, m.n_members, COALESCE(dc.n_dropped, 0) AS n_dropped
         |FROM (SELECT bucket, COUNT(*) AS n_members FROM a1 GROUP BY bucket) m
         |LEFT JOIN dc ON m.bucket = dc.bucket
         |ORDER BY m.bucket""".stripMargin
    },

    "q_emb_kmeans" -> {
      val cosEC1 = duckCos("e.embedding", "c1.c_emb")
      s"""WITH $duckAssignCte,
         |dims AS (SELECT bucket, generate_subscripts(n_emb, 1) AS idx,
         |                UNNEST(n_emb) AS v FROM a1),
         |upd AS (SELECT bucket, idx,
         |          CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE) * 1048576) AS BIGINT)) AS BIGINT) AS sv,
         |          COUNT(*) AS n
         |        FROM dims GROUP BY bucket, idx),
         |c1 AS (SELECT bucket AS c_id,
         |          LIST(CAST((sv / 1048576.0) / n AS REAL) ORDER BY idx) AS c_emb
         |       FROM upd GROUP BY bucket),
         |a2 AS (SELECT n_id, bucket FROM (
         |    SELECT e.vec_id AS n_id, c1.c_id AS bucket,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY $cosEC1 DESC, c1.c_id) AS arn
         |    FROM e CROSS JOIN c1) t WHERE arn = 1)
         |SELECT COALESCE(x.bucket, y.bucket) AS bucket,
         |  COALESCE(x.n_first, 0) AS n_first, COALESCE(y.n_second, 0) AS n_second
         |FROM (SELECT bucket, COUNT(*) AS n_first FROM a1 GROUP BY bucket) x
         |FULL JOIN (SELECT bucket, COUNT(*) AS n_second FROM a2 GROUP BY bucket) y
         |  ON x.bucket = y.bucket
         |ORDER BY bucket""".stripMargin
    },

    // the full training replay: stride seeds -> exact-integer Lloyd step ->
    // trained cells -> assignment/probe/rank — centroids are bit-stable, so
    // the hash pins the whole index, recall curve included
    "q_sim_ivf_kmeans" -> simIvfKmeansOracle,

    // the exact MaxSim kernel: cross join, one e6 rounding, integer
    // max-then-sum, top-5 per query group
    "q_sim_maxsim" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |q AS (SELECT vec_id // 10 AS q_id, vec_id AS qt,
         |        embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 20),
         |t AS (SELECT vec_id // 10 AS d_id, embedding AS t_emb,
         |        nrm AS t_nrm FROM e WHERE vec_id >= 20),
         |pair AS (SELECT q_id, qt, d_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, t_emb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (q_nrm * t_nrm) * 1000000) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN t),
         |ms AS (SELECT q_id, d_id, CAST(SUM(m) AS BIGINT) AS maxsim_e6 FROM (
         |    SELECT q_id, qt, d_id, MAX(cos_e6) AS m FROM pair
         |    GROUP BY 1, 2, 3) x GROUP BY 1, 2),
         |r AS (SELECT q_id, d_id, maxsim_e6,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY maxsim_e6 DESC, d_id) AS rn FROM ms)
         |SELECT q_id, d_id, maxsim_e6, CAST(rn AS INT) AS rn FROM r
         |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin,

    // both rankings replayed over SHARED corpus CTEs, then the recall
    // join — the q_ann_recall posture for the late-interaction family
    "q_ann_recall_maxsim" -> {
      val cosTS = duckCos("t.n_emb", "sd.c_emb")
      val cosQS = duckCos("q.q_emb", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |q AS (SELECT vec_id // 10 AS q_id, vec_id AS qt,
         |        embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 20),
         |t AS (SELECT vec_id AS n_id, vec_id // 10 AS d_id,
         |        embedding AS n_emb, nrm AS n_nrm FROM e WHERE vec_id >= 20),
         |xp AS (SELECT q_id, qt, d_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (q_nrm * n_nrm) * 1000000) AS BIGINT) AS cos_e6
         |  FROM q CROSS JOIN t),
         |xms AS (SELECT q_id, d_id, SUM(m) AS s FROM (
         |    SELECT q_id, qt, d_id, MAX(cos_e6) AS m FROM xp
         |    GROUP BY 1, 2, 3) x GROUP BY 1, 2),
         |xtop AS (SELECT q_id, d_id FROM (
         |    SELECT q_id, d_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY s DESC, d_id) AS rn FROM xms) z WHERE rn <= 5),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |       FROM e WHERE vec_id % ${strideSql("e")} = 0),
         |asg AS (SELECT n_id, d_id, n_emb, n_nrm, c_id AS bucket FROM (
         |    SELECT t.n_id, t.d_id, t.n_emb, t.n_nrm, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY t.n_id
         |        ORDER BY $cosTS DESC, sd.c_id) AS arn
         |    FROM t CROSS JOIN sd) x WHERE arn = 1),
         |qpr AS (SELECT q_id, c_id AS bucket FROM (
         |    SELECT q.q_id, q.qt, sd.c_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.qt
         |        ORDER BY $cosQS DESC, sd.c_id) AS prn
         |    FROM q CROSS JOIN sd) x WHERE prn <= 4 GROUP BY q_id, c_id),
         |cand AS (SELECT DISTINCT qpr.q_id, asg.d_id
         |         FROM qpr JOIN asg ON asg.bucket = qpr.bucket),
         |ip AS (SELECT q.q_id, q.qt, t.d_id,
         |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(q_emb, n_emb),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
         |      / (q_nrm * n_nrm) * 1000000) AS BIGINT) AS cos_e6
         |  FROM q JOIN cand ON cand.q_id = q.q_id
         |  JOIN t ON t.d_id = cand.d_id),
         |ims AS (SELECT q_id, d_id, SUM(m) AS s FROM (
         |    SELECT q_id, qt, d_id, MAX(cos_e6) AS m FROM ip
         |    GROUP BY 1, 2, 3) x GROUP BY 1, 2),
         |itop AS (SELECT q_id, d_id FROM (
         |    SELECT q_id, d_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY s DESC, d_id) AS rn FROM ims) z WHERE rn <= 5),
         |hits AS (SELECT q_id, COUNT(*) AS n_hit FROM xtop
         |         JOIN itop USING (q_id, d_id) GROUP BY q_id)
         |SELECT q_id,
         |  CAST(COALESCE(n_hit, 0) * 10000 // 5 AS BIGINT) AS recall_e4
         |FROM (SELECT DISTINCT q_id FROM xtop) g LEFT JOIN hits USING (q_id)
         |ORDER BY q_id""".stripMargin
    },

    // seeding, assignment, probing, and the pruned kernel all replayed;
    // the stride derives from the same corpus count on both engines
    "q_sim_maxsim_ivf" -> {
      val cosTS = duckCos("t.n_emb", "sd.c_emb")
      val cosQS = duckCos("q.q_emb", "sd.c_emb")
      s"""WITH e AS (SELECT vec_id, embedding,
         |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         |  FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |sd AS (SELECT vec_id AS c_id, embedding AS c_emb, nrm AS c_nrm
         |       FROM e WHERE vec_id % ${strideSql("e")} = 0),
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
         |         FROM qpr JOIN asg ON asg.bucket = qpr.bucket),
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

    // full-width exact + both truncated rankings + recall joins in one
    // replay — the truncation is plain list slicing on both engines
    "q_mrl_recall" -> {
      val cosF = duckCos("q.q_emb", "e.embedding")
      val cos8 = duckCos("tq8.q_emb", "tn8.n_emb")
      val cos32 = duckCos("tq32.q_emb", "tn32.n_emb")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding,
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM e
         |      WHERE vec_id < 10),
         |ex AS (SELECT q_id, n_id FROM (
         |    SELECT q.q_id, e.vec_id AS n_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.q_id
         |        ORDER BY $cosF DESC, e.vec_id) AS rn
         |    FROM q CROSS JOIN e) x WHERE rn <= 5),
         |tq8 AS (SELECT vec_id AS q_id, embedding[1:8] AS q_emb FROM e
         |  WHERE vec_id < 10 AND LIST_SUM(LIST_TRANSFORM(embedding[1:8],
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |tn8 AS (SELECT vec_id AS n_id, embedding[1:8] AS n_emb FROM e
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding[1:8],
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |a8 AS (SELECT q_id, n_id FROM (
         |    SELECT tq8.q_id, tn8.n_id,
         |      ROW_NUMBER() OVER (PARTITION BY tq8.q_id
         |        ORDER BY $cos8 DESC, tn8.n_id) AS rn
         |    FROM tq8 CROSS JOIN tn8) x WHERE rn <= 5),
         |tq32 AS (SELECT vec_id AS q_id, embedding[1:32] AS q_emb FROM e
         |  WHERE vec_id < 10 AND LIST_SUM(LIST_TRANSFORM(embedding[1:32],
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |tn32 AS (SELECT vec_id AS n_id, embedding[1:32] AS n_emb FROM e
         |  WHERE LIST_SUM(LIST_TRANSFORM(embedding[1:32],
         |    x -> ABS(CAST(x AS DOUBLE)))) > 0),
         |a32 AS (SELECT q_id, n_id FROM (
         |    SELECT tq32.q_id, tn32.n_id,
         |      ROW_NUMBER() OVER (PARTITION BY tq32.q_id
         |        ORDER BY $cos32 DESC, tn32.n_id) AS rn
         |    FROM tq32 CROSS JOIN tn32) x WHERE rn <= 5),
         |qs AS (SELECT DISTINCT q_id FROM ex),
         |h8 AS (SELECT ex.q_id, COUNT(*) AS n_hit FROM ex
         |       JOIN a8 ON ex.q_id = a8.q_id AND ex.n_id = a8.n_id
         |       GROUP BY ex.q_id),
         |h32 AS (SELECT ex.q_id, COUNT(*) AS n_hit FROM ex
         |        JOIN a32 ON ex.q_id = a32.q_id AND ex.n_id = a32.n_id
         |        GROUP BY ex.q_id)
         |SELECT 'd08' AS variant, qs.q_id,
         |  CAST(COALESCE(n_hit, 0) * 10000 // 5 AS BIGINT) AS recall_e4
         |FROM qs LEFT JOIN h8 USING (q_id)
         |UNION ALL
         |SELECT 'd32', qs.q_id,
         |  CAST(COALESCE(n_hit, 0) * 10000 // 5 AS BIGINT)
         |FROM qs LEFT JOIN h32 USING (q_id)
         |ORDER BY variant, q_id""".stripMargin
    },

    // all 6 merge steps replayed as chained CTEs — learned merges, counts,
    // and the final symbol inventory are all hash-pinned
    "q_bpe_train" -> {
      val mergeRows = (1 to 6).map(i =>
        s"SELECT CAST($i AS BIGINT) AS step, pr AS item, cnt FROM p$i")
        .mkString("\nUNION ALL ")
      s"""WITH $bpeChainSql,
         |vocab AS (SELECT CAST(7 AS BIGINT) AS step, sym AS item,
         |            CAST(SUM(freq) AS BIGINT) AS cnt
         |          FROM (SELECT UNNEST(STRING_SPLIT(s, ' ')) AS sym, freq
         |                FROM w6) t
         |          GROUP BY sym ORDER BY cnt DESC, sym LIMIT 10)
         |$mergeRows
         |UNION ALL SELECT step, item, cnt FROM vocab
         |ORDER BY step, item""".stripMargin
    },

    // exact integer apportionment: floors + largest remainders sum to the
    // budget by construction
    "q_tok_budget" ->
      """WITH byl AS (SELECT lang,
        |        CAST(SUM(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS BIGINT) AS toks
        |      FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(toks) AS BIGINT) AS total FROM byl),
        |f AS (SELECT lang, toks, toks * 1000000 // total AS floor_share,
        |        toks * 1000000 % total AS rem FROM byl, t),
        |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rr,
        |        1000000 - SUM(floor_share) OVER () AS leftover FROM f)
        |SELECT lang, toks,
        |  CAST(floor_share + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT) AS budget
        |FROM r ORDER BY lang""".stripMargin,

    // the same replayed merges, applied: per-word tokenization joined back
    // onto the corpus
    "q_bpe_apply" ->
      s"""WITH $bpeChainSql,
         |tok AS (SELECT w, CAST(LEN(STRING_SPLIT(s, ' ')) AS BIGINT) AS n_sym
         |        FROM w6),
         |dw AS (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
         |       FROM documents),
         |j AS (SELECT doc_id, n_sym FROM dw JOIN tok USING (w) WHERE w <> '')
         |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_sym) * 10000 // COUNT(*) AS BIGINT) AS tpw_e4
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the persisted artifact must apply IDENTICALLY to the in-memory
    // chain — one oracle, shared verbatim
    "q_bpe_apply_indexed" ->
      s"""WITH $bpeChainSql,
         |tok AS (SELECT w, CAST(LEN(STRING_SPLIT(s, ' ')) AS BIGINT) AS n_sym
         |        FROM w6),
         |dw AS (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
         |       FROM documents),
         |j AS (SELECT doc_id, n_sym FROM dw JOIN tok USING (w) WHERE w <> '')
         |SELECT doc_id, COUNT(*) AS n_words, CAST(SUM(n_sym) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_sym) * 10000 // COUNT(*) AS BIGINT) AS tpw_e4
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // recall@5 of both quantizers against the exact top-5, all three
    // pipelines replayed relationally
    "q_ann_recall_kmeans" -> {
      val ex = LlmOps.oracles("q_sim_topk")
      val ivf = PipelineOps.oracles("q_sim_ivf")
      s"""WITH ex AS ($ex), ivf AS ($ivf), km AS ($simIvfKmeansOracle),
         |qs AS (SELECT DISTINCT q_id FROM ex),
         |hi AS (SELECT ex.q_id, COUNT(*) AS n_hit FROM ex JOIN ivf
         |         ON ex.q_id = ivf.q_id AND ex.n_id = ivf.n_id GROUP BY ex.q_id),
         |hk AS (SELECT ex.q_id, COUNT(*) AS n_hit FROM ex JOIN km
         |         ON ex.q_id = km.q_id AND ex.n_id = km.n_id GROUP BY ex.q_id)
         |SELECT 'ivf16' AS variant, qs.q_id,
         |  CAST(COALESCE(hi.n_hit, 0) * 10000 // 5 AS BIGINT) AS recall_e4
         |FROM qs LEFT JOIN hi ON qs.q_id = hi.q_id
         |UNION ALL
         |SELECT 'kmeans', qs.q_id,
         |  CAST(COALESCE(hk.n_hit, 0) * 10000 // 5 AS BIGINT)
         |FROM qs LEFT JOIN hk ON qs.q_id = hk.q_id
         |ORDER BY variant, q_id""".stripMargin
    },

    "q_emb_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) / 127 AS scale
        |  FROM embeddings
        |  WHERE LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0)
        |SELECT vec_id,
        |  CAST(ROUND(scale * 1e9) AS BIGINT) AS scale_e9,
        |  ARRAY_TO_STRING(LIST_TRANSFORM(embedding,
        |    x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) AS INTEGER) AS VARCHAR)), ',') AS q_csv,
        |  CAST(ROUND(LIST_MAX(LIST_TRANSFORM(embedding,
        |    x -> ABS(FLOOR(CAST(x AS DOUBLE) / scale + 0.5) * scale - CAST(x AS DOUBLE)))) * 1e6) AS BIGINT) AS max_err_e6
        |FROM s ORDER BY vec_id""".stripMargin,

    // the same integer interpolation lattice, natural → uniform over 4 epochs
    "q_mix_anneal" ->
      """WITH byl AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |        CAST(COUNT(*) AS BIGINT) AS langs FROM byl),
        |g AS (SELECT lang, n, total, langs,
        |        n * 10000 // total AS start_e4, 10000 // langs AS uni_e4
        |      FROM byl, t),
        |e AS (SELECT g.*, u.epoch FROM g, UNNEST(RANGE(0, 4)) AS u(epoch)),
        |w AS (SELECT epoch, lang,
        |        CAST((start_e4 * (3 - epoch) + uni_e4 * epoch) // 3 AS BIGINT) AS w_e4,
        |        total
        |      FROM e)
        |SELECT epoch, lang, w_e4,
        |  CAST(w_e4 * total // 10000 AS BIGINT) AS target_docs
        |FROM w ORDER BY epoch, lang""".stripMargin,

    // same lattice + the 16-bit md5-fraction draw, integer cross-multiplied
    "q_mix_anneal_draw" ->
      """WITH byl AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |        CAST(COUNT(*) AS BIGINT) AS langs FROM byl),
        |g AS (SELECT lang, n, total, langs,
        |        n * 10000 // total AS start_e4, 10000 // langs AS uni_e4
        |      FROM byl, t),
        |sched AS (SELECT u.epoch, lang,
        |        CAST((start_e4 * (3 - u.epoch) + uni_e4 * u.epoch) // 3 AS BIGINT) AS w_e4,
        |        total
        |      FROM g, UNNEST(RANGE(0, 4)) AS u(epoch)),
        |docs AS (SELECT lang,
        |        CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) AS b16
        |      FROM documents),
        |drawn AS (SELECT s.epoch, s.lang, COUNT(*) AS n_drawn
        |      FROM docs d JOIN sched s ON d.lang = s.lang
        |      WHERE d.b16 * 10000 < s.w_e4 * 65536
        |      GROUP BY s.epoch, s.lang)
        |SELECT s.epoch, s.lang, s.w_e4,
        |  CAST(s.w_e4 * s.total // 10000 AS BIGINT) AS target_docs,
        |  CAST(COALESCE(dr.n_drawn, 0) AS BIGINT) AS n_drawn
        |FROM sched s LEFT JOIN drawn dr ON s.epoch = dr.epoch AND s.lang = dr.lang
        |ORDER BY s.epoch, s.lang""".stripMargin,

    // the one double op (POWER, e6-rounded) then integer arithmetic; `//`
    // floors = `div` truncates on the non-negative operands
    "q_mix_temperature" ->
      """WITH perdoc AS (
        |  SELECT lang, LEN(STRING_SPLIT(TRIM(text), ' ')) AS nt FROM documents),
        |l AS (SELECT lang, COUNT(*) AS n_docs, CAST(SUM(nt) AS BIGINT) AS n_toks
        |      FROM perdoc GROUP BY lang),
        |t AS (SELECT CAST(SUM(n_toks) AS BIGINT) AS nn FROM l),
        |w AS (SELECT lang, n_docs, n_toks,
        |        n_toks * 1000000 // nn AS p_e6,
        |        CAST(ROUND(1e6 * POWER(CAST(n_toks AS DOUBLE) / nn, 0.7)) AS BIGINT) AS pow_e6
        |      FROM l, t),
        |s AS (SELECT CAST(SUM(pow_e6) AS BIGINT) AS sp FROM w)
        |SELECT lang, n_docs, n_toks, p_e6,
        |  pow_e6 * 1000000 // sp AS q_e6,
        |  (pow_e6 * 1000000 // sp) * 10000 // p_e6 AS rate_e4
        |FROM w, s ORDER BY lang""".stripMargin,

    "q_data_mix" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN source < 'src1' THEN 150 WHEN source < 'src2' THEN 50
        |         ELSE 100 END AS w_e2,
        |    CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) AS bb
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    w_e2 // 100 + CASE WHEN bb * 100 < (w_e2 % 100) * 256 THEN 1 ELSE 0 END AS copies
        |  FROM b),
        |e AS (SELECT doc_id, source, UNNEST(GENERATE_SERIES(1, copies)) AS epoch
        |      FROM c WHERE copies > 0)
        |SELECT source, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_emitted
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "q_dataset_split" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 204 THEN 'train'
        |         WHEN CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 230 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, COUNT(*) AS n, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM b GROUP BY split, lang ORDER BY split, lang""".stripMargin,

    "q_epoch_order" ->
      """WITH ep(epoch, ca, cb) AS (
        |  VALUES (0, 48271, 11), (1, 69621, 37), (2, 40692, 73)),
        |r AS (
        |  SELECT CAST(ep.epoch AS BIGINT) AS epoch, d.doc_id,
        |    (ep.ca * d.doc_id + ep.cb) % 1000003 AS pos_key,
        |    ROW_NUMBER() OVER (PARTITION BY ep.epoch
        |      ORDER BY (ep.ca * d.doc_id + ep.cb) % 1000003, d.doc_id) AS rn
        |  FROM documents d CROSS JOIN ep)
        |SELECT epoch, CAST(rn AS INT) AS rn, doc_id, pos_key
        |FROM r WHERE rn <= 10 ORDER BY epoch, rn""".stripMargin,

    "q_curriculum" ->
      """WITH tok AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS tk FROM documents),
        |sc AS (
        |  SELECT doc_id, CAST(LEN(tk) AS BIGINT) AS n_tokens,
        |    CAST(LEN(LIST_DISTINCT(tk)) AS BIGINT) AS n_types,
        |    CAST(LEN(LIST_DISTINCT(tk)) AS BIGINT) * 10000
        |      // CAST(LEN(tk) AS BIGINT) AS score_e4
        |  FROM tok),
        |st AS (
        |  SELECT *, CAST(NTILE(4) OVER (ORDER BY score_e4, doc_id) AS INT) AS stage
        |  FROM sc)
        |SELECT stage, COUNT(*) AS n_docs, MIN(score_e4) AS min_score_e4,
        |  MAX(score_e4) AS max_score_e4, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM st GROUP BY stage ORDER BY stage""".stripMargin,

    "q_sample_topp" ->
      """WITH b AS (SELECT doc_id, lang, n_chars AS wt FROM documents),
        |c AS (
        |  SELECT lang, wt,
        |    SUM(wt) OVER (PARTITION BY lang ORDER BY wt DESC, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(wt) OVER (PARTITION BY lang) AS tot
        |  FROM b),
        |k AS (SELECT lang, wt, (cum - wt) < (tot * 4 + 4) // 5 AS kept FROM c)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(wt) AS BIGINT) AS w_total,
        |  CAST(SUM(CASE WHEN kept THEN wt ELSE 0 END) AS BIGINT) AS w_kept
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q_cluster_purity" ->
      s"""WITH $duckAssignCte,
        |lab AS (SELECT vec_id AS n_id, label FROM embeddings),
        |cl AS (
        |  SELECT a1.bucket, lab.label, COUNT(*) AS c
        |  FROM a1 JOIN lab ON a1.n_id = lab.n_id
        |  GROUP BY a1.bucket, lab.label),
        |t AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS n FROM cl GROUP BY bucket),
        |r AS (SELECT bucket, label, c,
        |        ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY c DESC, label) AS rn
        |      FROM cl)
        |SELECT r.bucket, t.n, r.label AS maj_label, r.c AS maj_n,
        |  r.c * 10000 // t.n AS purity_e4
        |FROM r JOIN t ON r.bucket = t.bucket
        |WHERE rn = 1 ORDER BY r.bucket""".stripMargin,

    "q_linear_clf" ->
      """WITH w AS (
        |  SELECT b AS bucket,
        |    CAST(('0x' || SUBSTR(md5(CAST(b AS VARCHAR)), 1, 7)) AS BIGINT)
        |      % 20001 - 10000 AS w_e4
        |  FROM (SELECT UNNEST(GENERATE_SERIES(0, 63)) AS b)),
        |tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(('0x' || SUBSTR(md5(t), 1, 7)) AS BIGINT) % 64 AS bucket,
        |    COUNT(*) AS tf
        |  FROM tok GROUP BY 1, 2),
        |sc AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
        |    CAST(SUM(tf * w_e4) AS BIGINT) AS score_e4
        |  FROM f JOIN w USING (bucket) GROUP BY doc_id)
        |SELECT doc_id, n_tok, score_e4,
        |  CAST(ROUND(CAST(score_e4 AS DOUBLE) / n_tok) AS BIGINT) AS per_tok_e4,
        |  score_e4 >= 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_split_parity" ->
      """WITH s AS (
        |  SELECT n_chars // 100 AS bkt,
        |    CASE WHEN CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 204 THEN 'train'
        |         WHEN CAST(('0x' || SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 2)) AS INTEGER) < 230 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |byb AS (
        |  SELECT bkt,
        |    CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS cv,
        |    CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS cs
        |  FROM s GROUP BY bkt),
        |cum AS (
        |  SELECT bkt,
        |    CAST(SUM(ct) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_t,
        |    CAST(SUM(cv) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_v,
        |    CAST(SUM(cs) OVER (ORDER BY bkt ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_s
        |  FROM byb),
        |tot AS (
        |  SELECT CAST(SUM(ct) AS BIGINT) AS n_t, CAST(SUM(cv) AS BIGINT) AS n_v,
        |         CAST(SUM(cs) AS BIGINT) AS n_s
        |  FROM byb),
        |d AS (
        |  SELECT CAST(MAX(ABS(cum_t * n_v - cum_v * n_t)) AS BIGINT) AS d_tv,
        |         CAST(MAX(ABS(cum_t * n_s - cum_s * n_t)) AS BIGINT) AS d_ts,
        |         CAST(MAX(ABS(cum_v * n_s - cum_s * n_v)) AS BIGINT) AS d_vs,
        |         MAX(n_t) AS n_t, MAX(n_v) AS n_v, MAX(n_s) AS n_s
        |  FROM cum, tot),
        |st AS (
        |  SELECT 'train_val' AS pair, n_t AS n_a, n_v AS n_b, d_tv AS dd FROM d
        |  UNION ALL SELECT 'train_test', n_t, n_s, d_ts FROM d
        |  UNION ALL SELECT 'val_test', n_v, n_s, d_vs FROM d)
        |SELECT pair, n_a, n_b,
        |  CAST(ROUND(1e4 * CAST(dd AS DOUBLE) / (n_a * n_b)) AS BIGINT) AS ks_e4
        |FROM st ORDER BY pair""".stripMargin,
  )
}
