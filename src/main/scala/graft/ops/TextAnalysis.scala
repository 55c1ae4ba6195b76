package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 / BASELINE.json:6 text analysis — language identification
  * (token-profile heuristic), token counting (whitespace + BPE-ish regex),
  * document fingerprinting (min-k rolling shingle hashes).
  *
  * Scale posture: lang-id is two hash aggregations (profile build) + one
  * broadcast join (the profile is ~20 rows × langs); at 100 TB the profile
  * is trained once on a sample and broadcast. Fingerprints are one linear
  * scan; the min-k signature is 4 hashes per doc regardless of doc size, so
  * the fingerprint table is tiny relative to the corpus — the point of
  * winnowing-style sketches.
  */
object TextAnalysis extends OpModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // The GOPHER quality-rule battery (Rae et al. 2021, "Scaling Language
    // Models" §A1.1.1 — the most-cited heuristic filter set for web-scale
    // pretraining corpora): word-count bounds, mean-word-length bounds,
    // stop-word floor, and alphabetic-word fraction, each computed in
    // EXACT integer units (e2/e4 fixed point, truncating div — both
    // engines agree on non-negatives) so the pass/fail bit is
    // reproducible. One linear scan; the two token-level counts come from
    // a single JVM kernel pass (TextHashes.gopherStats — SQL lambdas
    // interpret their predicate per token, the interpreted-HOF rule).
    // Composes upstream of q_data_mix / q_dataset_split exactly as the
    // paper's pipeline does.
    "q_quality_gopher" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), trim(col("text")).as("t"))
        .withColumn("toks", split(col("t"), " "))
        .withColumn("gs", graft.functions.TextHashes.gopherStats(col("toks")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          length(regexp_replace(col("t"), " ", "")).cast("long").as("wlen"),
          col("gs._1").as("n_stop"),
          col("gs._2").as("n_alpha"))
        .select(col("doc_id"), col("n_words"),
          expr("wlen * 100 div n_words").as("mean_wlen_e2"), col("n_stop"),
          expr("n_alpha * 10000 div n_words").as("alpha_e4"),
          expr("""cast(case when n_words between 50 and 100000
                 and wlen * 100 div n_words between 300 and 1000
                 and n_stop >= 2
                 and n_alpha * 10000 div n_words >= 7000
                 then 1 else 0 end as bigint)""").as("pass"))
        .orderBy(col("doc_id"))
    }),

    // Self-trained profile language ID: top-20 tokens per lang → classify
    // each doc by profile overlap (ties: lexicographic lang — D3).
    // UNIGRAM-LM NEGATIVE LOG-LIKELIHOOD — the perplexity-filter
    // baseline (CCNet's LM scoring rung below the KenLM model): score
    // every document by its mean token NLL under the corpus's OWN
    // unigram distribution. Rare-token-heavy docs (boilerplate hashes,
    // codes, OCR noise) score HIGH and are what a quality gate trims.
    // Determinism: one ln per token TYPE, rounded to e4 ONCE (the D1
    // round-each-then-integer-sum rule), then exact integer mean per
    // doc. Cost: one tokenize, one vocab aggregate, one join — token→
    // vocab joins shuffle-scale with the corpus (no driver-side vocab).
    "q_lm_unigram_nll" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(split(trim(lower(col("text"))), " ")).as("t"))
        .where(col("t") =!= "")
      val cnt = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
      val lp = cnt.crossJoin(cnt.agg(sum(col("c")).as("tot")))
        .select(col("t"), expr(
          "cast(round(-1e4 * ln(c / cast(tot as double))) as bigint)")
          .as("nll_e4"))
      tok.join(lp, "t")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"), sum(col("nll_e4")).as("s"))
        .select(col("doc_id"), col("n_tok"),
                expr("s div n_tok").as("nll_e4"))
        .orderBy(col("doc_id"))
    }),

    // BIGRAM-INTERPOLATED LM NLL — rung 2 of the perplexity filter
    // (round-13 verdict #5; the CCNet-style LM scoring one step below
    // KenLM): score each doc by its mean bigram NLL under
    // p(w2|w1) = 0.7·c(w1,w2)/ctx(w1) + 0.3·c(w2)/total — the bigram
    // MLE interpolated against the unigram model, so unseen-context
    // smoothing comes from the same scan q_lm_unigram_nll runs.
    // Context counts ctx(w1) = bigrams starting with w1 (probabilities
    // normalize per context). Determinism: one ln per bigram TYPE
    // rounded to e4 ONCE (the D1 rule), exact integer mean per doc.
    // Corpus-scaling keys (the bigram vocabulary grows with the data —
    // the blocking-key rule holds); cost = one tokenize, two vocab
    // aggregates, one pair join — all shuffle-scaling, no driver state.
    "q_lm_bigram_nll" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          expr("filter(split(trim(lower(text)), ' '), x -> x != '')").as("tf"))
      val pair = docs.where(size(col("tf")) >= 2)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, size(tf) - 1),
            |  i -> struct(element_at(tf, i) as w1,
            |              element_at(tf, i + 1) as w2))""".stripMargin))
          .as("pr"))
        .select(col("doc_id"), col("pr.w1").as("w1"), col("pr.w2").as("w2"))
      val uni = docs.select(explode(col("tf")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
      val ctx = pair.groupBy(col("w1")).agg(count(lit(1)).as("cc"))
      val big = pair.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
      val nll = big.join(ctx, "w1")
        .join(uni.select(col("t").as("w2"), col("c").as("c2")), "w2")
        .crossJoin(uni.agg(sum(col("c")).as("tot")))
        .select(col("w1"), col("w2"), expr(
          """cast(round(-1e4 * ln((0.7 * cb) / cast(cc as double)
            |  + (0.3 * c2) / cast(tot as double))) as bigint)"""
            .stripMargin).as("nll_e4"))
      pair.join(nll, Seq("w1", "w2"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_big"), sum(col("nll_e4")).as("sx"))
        .select(col("doc_id"), col("n_big"),
                expr("sx div n_big").as("nll_e4"))
        .orderBy(col("doc_id"))
    }),

    // VOCABULARY COVERAGE / OOV AUDIT — the tokenizer-budget question
    // every training pipeline answers before freezing a vocab: train
    // the top-1000 word list on the TRAIN split (doc_id % 7 != 0, freq
    // desc / word asc — deterministic), then measure per split what
    // fraction of TOKEN OCCURRENCES falls outside it. Held-out OOV >
    // train OOV is the expected generalization gap; a large gap means
    // the vocab memorized split-specific tokens (ids, hashes) and the
    // budget is mis-spent. Exact integers end to end (counts + one e4
    // division); the token→vocab join shuffle-scales with the corpus
    // (no driver-side vocab — the broadcast is the 1000-row list).
    "q_vocab_coverage" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(split(trim(lower(col("text"))), " ")).as("t"))
        .where(col("t") =!= "")
        .withColumn("split",
          when(pmod(col("doc_id"), lit(7)) === 0, "heldout")
            .otherwise("train"))
      val vocab = tok.where(col("split") === "train")
        .groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(1000)
        .select(col("t")).localCheckpoint() // 1000 rows
      tok.join(broadcast(vocab.withColumn("inv", lit(1L))), Seq("t"), "left")
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_tok"),
             sum(when(col("inv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("split"), col("n_tok"), col("n_oov"),
                expr("n_oov * 10000 div n_tok").as("oov_e4"))
        .orderBy(col("split"))
    }),

    "q_lang_id" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val tok = docs.select(col("doc_id"), col("lang"),
        explode(split(trim(lower(col("text"))), " ")).as("term"))
      val wProf = Window.partitionBy(col("plang")).orderBy(col("cnt").desc, col("term"))
      val profile = tok.groupBy(col("lang").as("plang"), col("term"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(wProf))
        .where(col("rn") <= 20)
        .select(col("plang"), col("term"))
      val docTerms = tok.select(col("doc_id"), col("term")).distinct()
      val wPred = Window.partitionBy(col("doc_id")).orderBy(col("ov").desc, col("plang"))
      docTerms.join(broadcast(profile), "term")
        .groupBy(col("doc_id"), col("plang"))
        .agg(count(lit(1)).as("ov"))
        .withColumn("rn", row_number().over(wPred))
        .where(col("rn") === 1)
        .join(docs.select(col("doc_id"), col("lang").as("actual")), "doc_id")
        .select(col("doc_id"), col("plang").as("pred_lang"), col("actual"),
                (col("plang") === col("actual")).as("correct"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace split vs BPE-ish regex segmentation.
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
                size(split(trim(col("text")), " ")).as("ws_tokens"),
                size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
                  .as("bpe_tokens"))
        .orderBy(col("doc_id"))),

    // Winnowing-style fingerprint: min-4 of rolling 5-gram shingle hashes.
    "q_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(trim(col("text")), " "))
        .withColumn("sh", expr(
          """array_distinct(transform(
            |  sequence(0, greatest(size(toks) - 5, 0)),
            |  i -> concat_ws(' ', slice(toks, i + 1, 5))))""".stripMargin))
        .select(col("doc_id"),
                // CSV string, not a raw array: arrays crash the driver's
                // pandas row-sort (unhashable ndarray)
                expr("array_join(slice(sort_array(transform(sh, s -> md5(s))), 1, 4), ',')").as("fp"),
                expr("sort_array(transform(sh, s -> md5(s)))[0]").as("min_hash"))
        .orderBy(col("doc_id"))),

    // Lexicon-based sentiment scoring (the PAPERS.md Spark-sentiment theme,
    // AFINN-style): a fixed word→weight lexicon summed over token counts.
    // Pure integer column math over one scan — the lexicon inlines as CASE
    // weights, so at 100 TB this is a map-only pass (a larger lexicon
    // rides a broadcast join against the exploded tokens instead).
    "q_sentiment" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(trim(lower(col("text"))), " "))
        .select(col("doc_id"),
          expr("""2 * size(filter(toks, t -> t = 'fast'))
                 |- 2 * size(filter(toks, t -> t = 'slow'))
                 |+ size(filter(toks, t -> t = 'big'))
                 |- size(filter(toks, t -> t = 'small'))
                 |- 3 * size(filter(toks, t -> t = 'dup'))""".stripMargin).as("score"))
        .withColumn("label",
          when(col("score") > 2, "pos").when(col("score") < -2, "neg").otherwise("neutral"))
        .orderBy(col("doc_id"))),

    // Term co-occurrence + PMI over the top-50 vocabulary: the
    // collocation/topic primitive. The vocabulary cap is the scale control:
    // the per-doc pair expansion runs only over vocab terms (≤ C(50,2)
    // pairs per doc instead of C(|doc|,2)), with the vocab broadcast. PMI
    // rides as ROUND(1e4·ln(x)) of a ratio of exact integers — identical
    // doubles cross-engine. Top-20 by (count DESC, ta, tb) — D3 tie-break.
    "q_tok_cooccur" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(trim(lower(col("text"))), " "))).as("t"))
        .where(length(col("t")) >= 4)
      val voc = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t")).limit(50)
      val dt = tok.join(broadcast(voc), "t")
      val nd = Tables.documents(s, d).agg(count(lit(1)).as("nd"))
      // pair expansion explodes MAP-SIDE from each doc's own (t, df) set
      // (≤50 vocab tokens per doc) — the r14 pair-generation reshape: the
      // per-doc self-join paid two exchanges of dt for the identical pairs
      dt.groupBy(col("doc_id"))
        .agg(collect_set(struct(col("t"), col("df"))).as("xs"))
        .select(explode(col("xs")).as("pa"), col("xs"))
        .select(col("pa"), explode(col("xs")).as("pb"))
        .where(col("pa.t") < col("pb.t"))
        .select(col("pa.t").as("ta"), col("pb.t").as("tb"),
                col("pa.df").as("dfa"), col("pb.df").as("dfb"))
        .groupBy(col("ta"), col("tb"))
        .agg(count(lit(1)).as("n_co"), max(col("dfa")).as("dfa"), max(col("dfb")).as("dfb"))
        .crossJoin(broadcast(nd))
        .select(col("ta"), col("tb"), col("n_co"),
                expr("cast(round(1e4 * ln(cast(n_co as double) * nd / (dfa * dfb))) as bigint)").as("pmi_e4"))
        .orderBy(col("n_co").desc, col("ta"), col("tb")).limit(20)
    }),

    // Unigram language-model scoring — the perplexity-filter stage of a
    // curation pipeline: each document's negative log-likelihood under the
    // corpus's own unigram distribution (self-trained, like q_lang_id).
    // Determinism: every PER-TOKEN log-probability rounds to an integer
    // 1e-4 unit FIRST and the document score sums those integers — a
    // double Σln would be accumulation-order-sensitive and diverge between
    // engines, while ln of a ratio of exact ints is bit-stable (the
    // q_tok_cooccur precedent). Scale: one corpus-sized shuffle to count
    // the vocab (map-side partial), one shuffle join of tokens→counts on
    // term, one groupBy doc. The vocab join carries NO broadcast hint:
    // the planner broadcasts while the vocabulary fits (it does at
    // harness scale) and falls back to a shuffle join when it outgrows —
    // the q_tfidf_terms lesson was a hard-coded hint, not planner choice.
    "q_unigram_lm" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("ct"))
      // total re-aggregates the vocab-sized count table — never a second
      // corpus tokenize/explode pass
      val total = vocab.agg(sum(col("ct")).as("nt"))
      tok.join(vocab, "t").crossJoin(broadcast(total))
        .select(col("doc_id"),
          expr("cast(round(-1e4 * ln(cast(ct as double) / nt)) as bigint)").as("nll"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("nll")).as("nll_e4"),
             expr("cast(round(cast(sum(nll) as double) / count(1)) as bigint)").as("per_tok_e4"))
        .orderBy(col("doc_id"))
    }),

    // Bigram language-model scoring — q_unigram_lm at order 2, the next
    // rung of the perplexity-filter ladder. Self-trained: bigram counts c2
    // and history counts c1 come from the corpus itself (so every doc
    // bigram is in-vocabulary; c1 re-aggregates the c2 table — never a
    // second tokenize pass), and each occurrence scores
    // round(1e4·ln(c1/c2)) — per-occurrence integer rounding BEFORE the
    // per-doc sum, the q_unigram_lm accumulation discipline. Plan shape:
    // the model is CORPUS-SIZED, so occurrences join it on the bigram key
    // via shuffle hash join (the q_tfidf_terms de-broadcast rule — a
    // broadcast model would ship the whole vocabulary to every executor).
    "q_bigram_lm" -> ((s, d) => {
      val big = Tables.documents(s, d)
        .select(col("doc_id"), explode(graft.functions.TextHashes.shinglesAll(2)(
          split(trim(lower(col("text"))), " "))).as("bg"))
        .withColumn("w1", expr("split_part(bg, ' ', 1)"))
      val c2 = big.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      val c1 = c2.select(expr("split_part(bg, ' ', 1)").as("w1"), col("c2"))
        .groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
      big.join(c2, "bg").join(c1, "w1")
        .select(col("doc_id"),
          expr("cast(round(1e4 * ln(cast(c1 as double) / c2)) as bigint)").as("nll"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("nll")).as("nll_e4"),
             expr("cast(round(cast(sum(nll) as double) / count(1)) as bigint)").as("per_big_e4"))
        .orderBy(col("doc_id"))
    }),

    // Token-entropy quality signal (the Gopher/C4 "gibberish vs natural
    // text" rule): Shannon entropy of each document's own token
    // distribution, in 1e-4 nats. Low entropy = repetition/boilerplate,
    // suspiciously high = random token soup. Each term contributes
    // round(1e4·(c/L)·ln(L/c)) — a fixed expression tree over the two
    // exact integers (c, L), rounded per TERM before the integer sum, so
    // both engines agree bit-for-bit. One token scan → per-(doc, term)
    // counts → per-doc roll-up: two hash aggregations on the same doc_id
    // key, map-side-combinable at any corpus size.
    // KMV (k-minimum-values / theta) sketch: per SOURCE, the 128 smallest
    // 48-bit md5 hashes of its distinct vocabulary; pairwise source overlap
    // estimated from the sketches alone — count the common hashes inside
    // the first k of the MERGED sketch (the standard theta-sketch Jaccard
    // estimator). The sketch is mergeable and deterministic (pure hash
    // order, no RNG), which is the whole point at 100 TB: per-partition
    // k-mins merge associatively, and source-pair comparisons touch ONLY
    // the 128-row sketches, never the corpora. The exact per-pair Jaccard
    // rides beside it as the error audit (q_ann_recall pattern) — computed
    // from one vocab-sized membership table, a bounded self-join on token
    // (≤ |sources| rows per token), no corpus pair scan.
    "q_kmv_sketch" -> ((s, d) => {
      val k = 128
      val vocab = Tables.documents(s, d)
        .select(col("source"), explode(array_distinct(
          split(trim(lower(col("text"))), " "))).as("t"))
        .distinct()
        .select(col("source"),
          conv(substring(md5(col("t")), 1, 12), 16, 10).cast("long").as("h"))
        .distinct()
      val wS = Window.partitionBy(col("source")).orderBy(col("h"))
      val sk = vocab.withColumn("rn", row_number().over(wS)).where(col("rn") <= k)
        .select(col("source"), col("h"))
      val pairs = sk.select(col("source").as("a")).distinct()
        .join(sk.select(col("source").as("b")).distinct(), col("a") < col("b"))
      val merged = pairs.join(sk.withColumnRenamed("source", "a"), Seq("a"))
        .select(col("a"), col("b"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
        .unionByName(pairs.join(sk.withColumnRenamed("source", "b"), Seq("b"))
          .select(col("a"), col("b"), col("h"), lit(0).as("ia"), lit(1).as("ib")))
        .groupBy(col("a"), col("b"), col("h"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      val wP = Window.partitionBy(col("a"), col("b")).orderBy(col("h"))
      // Denominator = |first-k of the merged sketch| — equals k once both
      // vocabularies exceed k, but small unions (|A∪B| < k) are EXACT and
      // must divide by their true size, not k.
      val est = merged.withColumn("rn", row_number().over(wP)).where(col("rn") <= k)
        .groupBy(col("a"), col("b"))
        .agg(sum(col("ia") * col("ib")).as("n_common"), count(lit(1)).as("kk"))
        .withColumn("kmv_jac_e4", expr("n_common * 10000 div kk"))
      // exact audit from the vocab membership table
      val m = Tables.documents(s, d)
        .select(col("source"), explode(array_distinct(
          split(trim(lower(col("text"))), " "))).as("t"))
        .distinct()
      val sizes = m.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = m.select(col("source").as("a"), col("t"))
        .join(m.select(col("source").as("b"), col("t")), Seq("t"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ni"))
      est.join(inter, Seq("a", "b"))
        .join(sizes.select(col("source").as("a"), col("nv").as("na")), Seq("a"))
        .join(sizes.select(col("source").as("b"), col("nv").as("nb")), Seq("b"))
        .select(col("a"), col("b"), col("n_common"), col("kmv_jac_e4"),
          expr("ni * 10000 div (na + nb - ni)").as("exact_jac_e4"))
        .orderBy(col("a"), col("b"))
    }),

    // KMV set-operation cardinalities — the sketch-side |A∪B| / |A∩B|
    // estimates q_kmv_sketch's Jaccard implies, made explicit: the k-th
    // minimum M_k of a 48-bit-hashed set estimates |S| ≈ (k−1)·2⁴⁸/M_k,
    // the union estimate reads the MERGED sketch's k-th min (merge = union
    // + re-truncate, associative — sketches of 100 TB partitions combine
    // with 128-row shuffles), and |A∩B| ≈ Ĵ·|A∪B|. Sets smaller than k are
    // stored whole, so their estimates are declared EXACT (the kk < k
    // branch). Integer-division arithmetic throughout; the exact union /
    // intersection audit rides beside the estimates (q_ann_recall
    // pattern).
    "q_kmv_setops" -> ((s, d) => {
      val k = 128
      val mem = Tables.documents(s, d)
        .select(col("source"), explode(array_distinct(
          split(trim(lower(col("text"))), " "))).as("t"))
        .distinct()
      val vh = mem
        .select(col("source"),
          conv(substring(md5(col("t")), 1, 12), 16, 10).cast("long").as("h"))
        .distinct()
      val wS = Window.partitionBy(col("source")).orderBy(col("h"))
      val ranked = vh.withColumn("rn", row_number().over(wS))
      val sk = ranked.where(col("rn") <= k).select(col("source"), col("h"))
      val pairs = sk.select(col("source").as("a")).distinct()
        .join(sk.select(col("source").as("b")).distinct(), col("a") < col("b"))
      val merged = pairs.join(sk.withColumnRenamed("source", "a"), Seq("a"))
        .select(col("a"), col("b"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
        .unionByName(pairs.join(sk.withColumnRenamed("source", "b"), Seq("b"))
          .select(col("a"), col("b"), col("h"), lit(0).as("ia"), lit(1).as("ib")))
        .groupBy(col("a"), col("b"), col("h"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      val wP = Window.partitionBy(col("a"), col("b")).orderBy(col("h"))
      val est = merged.withColumn("rn", row_number().over(wP)).where(col("rn") <= k)
        .groupBy(col("a"), col("b"))
        .agg(sum(col("ia") * col("ib")).as("n_common"), count(lit(1)).as("kk"),
             max(col("h")).as("hk"))
        .select(col("a"), col("b"), col("n_common"), col("kk"),
          when(col("kk") < k, col("kk"))
            .otherwise(expr(s"(${k - 1}) * 281474976710656 div hk"))
            .as("union_est"))
        .withColumn("inter_est", expr("n_common * union_est div kk"))
      val sizes = mem.groupBy(col("source")).agg(count(lit(1)).as("nv"))
      val inter = mem.select(col("source").as("a"), col("t"))
        .join(mem.select(col("source").as("b"), col("t")), Seq("t"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ni"))
      est.join(inter, Seq("a", "b"))
        .join(sizes.select(col("source").as("a"), col("nv").as("na")), Seq("a"))
        .join(sizes.select(col("source").as("b"), col("nv").as("nb")), Seq("b"))
        .select(col("a"), col("b"), col("union_est"), col("inter_est"),
                (col("na") + col("nb") - col("ni")).as("exact_union"),
                col("ni").as("exact_inter"))
        .orderBy(col("a"), col("b"))
    }),

    // Chi-square term–class association (one-vs-rest 2×2 per (token, lang))
    // — the classic supervised feature-selection score beside
    // q_mutual_info's unsupervised MI: χ² = N(ad−bc)²/(ct·(N−ct)·cl·(N−cl))
    // from the same three aggregates (cell, by-token, by-lang). Every count
    // is an exact long; the statistic is double ×/÷ over those longs
    // (IEEE-identical cross-engine, no transcendentals), rounded at 1e-4.
    // Top-20 with the (χ² DESC, token, lang) total-order tie-break.
    "q_chi2_terms" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val cell = tok.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("ctl"))
      val byTok = cell.groupBy(col("t")).agg(sum(col("ctl")).as("ct"))
      val byLang = cell.groupBy(col("lang")).agg(sum(col("ctl")).as("cl"))
      val tot = byLang.agg(sum(col("cl")).as("n"))
      cell.join(byTok, "t").join(broadcast(byLang), "lang").crossJoin(broadcast(tot))
        .where(col("ct") < col("n"))
        .select(col("t"), col("lang"), col("ctl"), expr(
          """cast(round(1e4 * n *
            |  pow(cast(ctl as double) * (n - ct - cl + ctl)
            |      - cast(ct - ctl as double) * (cl - ctl), 2)
            |  / (cast(ct as double) * (n - ct) * cl * (n - cl))) as bigint)"""
            .stripMargin).as("chi2_e4"))
        .orderBy(col("chi2_e4").desc, col("t"), col("lang")).limit(20)
    }),

    // Zipf's-law fit over the corpus vocabulary: OLS slope/intercept of
    // ln(freq) on ln(rank) for the top-100 terms — the standard "is this
    // corpus natural language or template soup" diagnostic (natural text
    // slopes ≈ −1). Determinism: rank is row_number on (count DESC, term)
    // (total order), each ln rounds to an integer 1e-6 unit per ROW, the
    // four OLS moments are exact long sums of those integers, and the final
    // slope/intercept are each ONE long→double division ROUND'ed to 1e-6 —
    // the q_corr_matrix shared-expression discipline. Scale: the corpus
    // pays one vocabulary count (map-side partial); everything after runs
    // on 100 rows via TakeOrderedAndProject, no global sort.
    "q_zipf_fit" -> ((s, d) => {
      val top = Tables.documents(s, d)
        .select(explode(split(trim(lower(col("text"))), " ")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("ct"))
        .orderBy(col("ct").desc, col("t")).limit(100)
      val w = Window.orderBy(col("ct").desc, col("t"))
      val m = top.withColumn("r", row_number().over(w).cast("long"))
        .select(expr("cast(round(1e6 * ln(cast(r as double))) as bigint)").as("x"),
                expr("cast(round(1e6 * ln(cast(ct as double))) as bigint)").as("y"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
             sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      m.select(col("n"),
        expr("cast(round(1e6 * (cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double))) as bigint)").as("slope_e6"),
        expr("cast(round((cast(sy as double) - (cast(n * sxy - sx * sy as double) / cast(n * sxx - sx * sx as double)) * sx) / cast(n as double)) as bigint)").as("icept_e6"))
    }),

    "q_entropy" -> ((s, d) => {
      val tf = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
      val dl = tf.groupBy(col("doc_id"))
        .agg(sum(col("c")).as("L"), count(lit(1)).as("n_distinct"))
      tf.join(dl, "doc_id")
        .select(col("doc_id"), col("L"), col("n_distinct"),
          expr("cast(round(1e4 * (cast(c as double) / L) * ln(cast(L as double) / c)) as bigint)").as("h"))
        .groupBy(col("doc_id"))
        .agg(max(col("L")).as("n_tok"), max(col("n_distinct")).as("n_distinct"),
             sum(col("h")).as("ent_e4"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval — the sparse/term recall path beside the
    // embedding ANN (a RAG/curation stack runs both). Query = the corpus's
    // own top-5 terms by document frequency (≥4 chars, df desc / term
    // tie-break — corpus-derived, no magic constants); k1=1.2, b=0.75.
    // Every per-(doc, term) BM25 contribution is one fixed expression tree
    // over exact integers (tf, df, dl, N, total-len), rounded to 1e-4
    // units BEFORE the per-doc integer sum (the accumulation-order
    // discipline of q_unigram_lm/q_domain_kl). Plan: one token scan feeds
    // tf; dl/df/N/total re-aggregate tf (no second corpus pass); the tiny
    // query-term table broadcasts; top-20 is TakeOrderedAndProject.
    // Hybrid RAG retrieval: BM25's lexical top-20 (the declared q_bm25
    // pipeline, reused verbatim) re-ranked by embedding cosine against a
    // dense query vector (doc 0's embedding; doc_id = vec_id is the
    // multimodal join contract) — the standard two-stage retrieve→re-rank
    // stack, composed from two declared operators so the oracle nests both
    // verbatim (the q_ann_recall pattern). Scale: the re-rank touches only
    // the 20 lexical candidates; the dense side never scans the corpus.
    "q_rag_rerank" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val cand = queries("q_bm25")(s, d).select(col("doc_id"), col("bm25_e4"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      cand
        .join(emb.select(col("vec_id").as("doc_id"), col("embedding"), col("nrm")),
              "doc_id")
        .crossJoin(broadcast(qv))
        .withColumn("cos_e4",
          round(expr("graft_float_dot(embedding, q_emb)")
            / (col("nrm") * col("q_nrm")) * 10000).cast("int"))
        .select(col("doc_id"), col("bm25_e4"), col("cos_e4"))
        .orderBy(col("cos_e4").desc, col("doc_id")).limit(5)
    }),

    // CONTEXT PACKING — the retrieval stack's last stage: the ranked
    // candidates (q_bm25's top-20, reused verbatim) are packed into a
    // generation context under a hard TOKEN BUDGET by rank-ordered
    // prefix (a running token sum over the ranking window; packing must
    // preserve ranking contiguity, so it is a prefix cut, not best-fit).
    // Exactly what a RAG serving layer does between retrieval and the
    // prompt template. The window is 20 rows — bounded by the candidate
    // set, never the corpus; the oracle nests the declared bm25 SQL and
    // applies the same running sum.
    "q_rag_pack" -> ((s, d) => {
      val cand = queries("q_bm25")(s, d).select(col("doc_id"), col("bm25_e4"))
      val toks = Tables.documents(s, d).select(col("doc_id"),
        size(split(trim(col("text")), " ")).cast("long").as("n_toks"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("bm25_e4").desc, col("doc_id"))
      cand.join(toks, "doc_id")
        .withColumn("rank", row_number().over(w).cast("long"))
        .withColumn("cum_toks", sum(col("n_toks")).over(w))
        .where(col("cum_toks") <= 1200L)
        .select(col("rank"), col("doc_id"), col("n_toks"), col("cum_toks"),
                col("bm25_e4"))
        .orderBy(col("rank"))
    }),

    // RECIPROCAL RANK FUSION — hybrid retrieval's standard score combiner
    // (Cormack et al. 2009): the lexical top-20 (q_bm25, reused verbatim)
    // and the dense top-20 (cosine vs the q_rag_rerank query vector) fuse
    // by rank alone — score = Σ 1/(60+rank) — so the two rankers need no
    // score calibration, which is exactly why serving stacks prefer RRF
    // over score interpolation. Each 1/(60+r) term rounds to 1e-6 units
    // BEFORE the integer sum (the accumulation-order discipline); ranks
    // are over e4-rounded scores with doc_id tie-break, so both engines
    // rank identically. Scale: the dense stage is one corpus scan +
    // TakeOrderedAndProject (the single-query-vector shape — the ANN
    // ladder replaces it when queries batch); the fusion itself touches
    // ≤40 rows.
    "q_rag_fusion" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val w = org.apache.spark.sql.expressions.Window
      val lex = queries("q_bm25")(s, d)
        .select(col("doc_id"), col("bm25_e4"))
        .withColumn("lex_rank", row_number()
          .over(w.orderBy(col("bm25_e4").desc, col("doc_id"))).cast("long"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val dense = emb.crossJoin(broadcast(qv))
        .withColumn("cos_e4",
          round(expr("graft_float_dot(embedding, q_emb)")
            / (col("nrm") * col("q_nrm")) * 10000).cast("int"))
        .select(col("vec_id").as("doc_id"), col("cos_e4"))
        .orderBy(col("cos_e4").desc, col("doc_id")).limit(20)
        .withColumn("dense_rank", row_number()
          .over(w.orderBy(col("cos_e4").desc, col("doc_id"))).cast("long"))
      lex.select(col("doc_id"), col("lex_rank"))
        .join(dense.select(col("doc_id"), col("dense_rank")),
              Seq("doc_id"), "full_outer")
        .withColumn("rrf_e6",
          coalesce(expr("cast(round(1e6 / (60 + lex_rank)) as bigint)"), lit(0L))
            + coalesce(expr("cast(round(1e6 / (60 + dense_rank)) as bigint)"), lit(0L)))
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(-1L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(-1L)).as("dense_rank"),
          col("rrf_e6"))
        .orderBy(col("rrf_e6").desc, col("doc_id")).limit(10)
    }),

    // MAXIMAL MARGINAL RELEVANCE — the diversification stage between
    // retrieval and packing (Carbonell & Goldstein 1998): greedily pick 5
    // of the lexical top-20, each step maximizing λ·relevance −
    // (1−λ)·max-similarity-to-selected. λ=0.7 is applied as INTEGER
    // weights (mmr_e5 = 7·rel_e4 − 3·maxsim_e4 — ×10 the e4 score, zero
    // float rounding anywhere); relevance is bm25 normalized to e4 by the
    // candidate max; similarity is pairwise embedding cosine in e4. The
    // candidate set is BOUNDED (top-20), so the ≤380-pair similarity
    // matrix computes distributed and the 5-step greedy runs on the
    // driver over the collected matrix — a serving-layer op, never
    // corpus-sized (contrast q_kcenter, whose argmax must stay in the
    // cluster because ITS candidate set is the corpus). Oracle = a
    // recursive CTE replaying the same greedy chain.
    "q_rag_mmr" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val cand = queries("q_bm25")(s, d).select(col("doc_id"), col("bm25_e4"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
        .select(col("vec_id").as("doc_id"), col("embedding"), col("nrm"))
      val ce = cand.join(emb, "doc_id")
      val mx = ce.agg(max(col("bm25_e4")).as("mx"))
      val rel = ce.crossJoin(broadcast(mx))
        .select(col("doc_id"),
          expr("cast(round(1e4 * bm25_e4 / mx) as bigint)").as("rel_e4"),
          col("embedding"), col("nrm"))
      val pairs = rel.as("a").join(rel.as("b"),
          col("a.doc_id") =!= col("b.doc_id"))
        .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"),
          expr("""cast(round(graft_float_dot(a.embedding, b.embedding)
                 | / (a.nrm * b.nrm) * 10000) as bigint)""".stripMargin)
            .as("sim_e4"))
      val relMap = rel.select(col("doc_id"), col("rel_e4")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val simMap = pairs.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
      var step = 1L
      while (step <= 5L && chosen.size < relMap.size) {
        val best = relMap.keysIterator.filterNot(chosen.contains).map { id =>
          val maxSim =
            if (chosen.isEmpty) 0L
            else chosen.iterator.map(c => simMap((id, c))).max
          (id, 7L * relMap(id) - 3L * maxSim)
        }.minBy { case (id, m) => (-m, id) }
        picked += ((step, best._1, relMap(best._1), best._2))
        chosen += best._1
        step += 1L
      }
      graft.Local(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("sel_rank",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("rel_e4",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("mmr_e5",
            org.apache.spark.sql.types.LongType))),
        picked.toSeq.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)))
        .toDF(s).orderBy(col("sel_rank"))
    }),

    // HARD-NEGATIVE MINING (the DPR/contriever training-set recipe,
    // Karpukhin et al. 2020 §4.2): for the stack's standard query (vec 0 +
    // the bm25 terms), the POSITIVE is the dense top-1 (excluding the query
    // doc itself) and the HARD NEGATIVES are the lexically-retrieved top-5
    // that the dense top-20 does NOT contain — relevant-looking but
    // semantically distant, exactly the pairs a bi-encoder needs to learn
    // from. Composes the two declared retrieval stages verbatim (their
    // oracles nest), so the mined pairs are hash-pinned end to end.
    // Scale: one corpus cosine scan (TakeOrderedAndProject) + the bm25
    // stack; the set difference touches ≤40 candidate rows. Batched
    // queries swap the scan for the ANN ladder, same as q_rag_fusion.
    "q_hard_negatives" -> ((s, d) => {
      graft.functions.FloatDot.register(s)
      val lex = queries("q_bm25")(s, d).select(col("doc_id"), col("bm25_e4"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val dense20 = emb.crossJoin(broadcast(qv))
        .withColumn("cos_e4",
          round(expr("graft_float_dot(embedding, q_emb)")
            / (col("nrm") * col("q_nrm")) * 10000).cast("long"))
        .select(col("vec_id").as("doc_id"), col("cos_e4"))
        .orderBy(col("cos_e4").desc, col("doc_id")).limit(20)
      val pos = dense20.where(col("doc_id") =!= 0)
        .orderBy(col("cos_e4").desc, col("doc_id")).limit(1)
        .select(lit("pos").as("role"), lit(1L).as("pair_rank"),
                col("doc_id"), col("cos_e4").as("score_e4"))
      val negs = lex
        .join(dense20.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .where(col("doc_id") =!= 0)
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(5)
        .withColumn("pair_rank", row_number().over(
          Window.orderBy(col("bm25_e4").desc, col("doc_id"))).cast("long"))
        .select(lit("neg").as("role"), col("pair_rank"),
                col("doc_id"), col("bm25_e4").as("score_e4"))
      pos.unionByName(negs).orderBy(col("role"), col("pair_rank"))
    }),

    // ROUGE-1/2 RECALL (the summarization/overlap eval metric, Lin 2004)
    // over deterministic reference/candidate pairs (ref = doc_id, cand =
    // doc_id + half-corpus — the metric is the operator, the pairing is a
    // stand-in for a model's outputs): clipped-count overlap
    // Σ_g min(cnt_ref, cnt_cand) over the reference mass, exact e4
    // integers. Scale: grams join on (pair, gram) — a corpus-scaling key
    // (the recorded blocking rule) — and each side is one tokenize +
    // count aggregate; no pair explosion, no per-pair rescans.
    "q_rouge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(trim(lower(col("text"))), " ").as("toks"))
      val half = Tables.documents(s, d).count() / 2
      def grams(n: Int) = {
        val gcol =
          if (n == 1) col("toks")
          else expr("""CASE WHEN size(toks) >= 2
                      |THEN transform(sequence(0, size(toks) - 2),
                      |               i -> concat(toks[i], ' ', toks[i + 1]))
                      |ELSE array() END""".stripMargin)
        docs.select(col("doc_id"), explode(gcol).as("g"))
          .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      }
      def rouge(n: Int, name: String) = {
        val gs = grams(n)
        val ref = gs.where(col("doc_id") < half)
        val cand = gs.select((col("doc_id") - half).as("doc_id"),
                             col("g"), col("c").as("cc"))
          .where(col("doc_id") >= 0)
        ref.join(cand, Seq("doc_id", "g"), "left")
          .groupBy(col("doc_id"))
          .agg(sum(least(col("c"), coalesce(col("cc"), lit(0L)))).as("ov"),
               sum(col("c")).as("tot"))
          .select(col("doc_id"), expr(s"ov * 10000 div tot").as(name))
      }
      rouge(1, "rouge1_e4").join(rouge(2, "rouge2_e4"), Seq("doc_id"), "left")
        .na.fill(0L, Seq("rouge2_e4")) // a 1-token ref has no bigrams
        .orderBy(col("doc_id"))
    }),

    // RETRIEVAL EVALUATION (MRR + nDCG@10 — the IR quality gates a
    // retrieval stack ships against): the lexical top-10 (q_bm25, query
    // doc excluded) is judged against the dense exact top-10 as binary
    // ground truth. The log2 rank discounts are CONSTANT integers
    // (round(1e6/log2(i+1)), i = 1..10) baked identically into both
    // engines, so DCG is pure integer arithmetic — no floating log at
    // query time; MRR = 1e6 div first-relevant-rank (MAX over relevant
    // ranks of 1e6 div rank — the maximum IS the first); ideal DCG is the
    // full weight sum (|rel| = 10 by construction). Scale: composes the
    // two declared retrieval stages (bm25 stack + one cosine corpus scan);
    // the metric join touches 10 rows.
    "q_rag_metrics" -> ((s, d) => {
      import s.implicits._
      graft.functions.FloatDot.register(s)
      val lex10 = queries("q_bm25")(s, d).where(col("doc_id") =!= 0)
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("bm25_e4").desc, col("doc_id"))).cast("long"))
      val emb = Tables.embeddings(s, d)
        .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
        .where(col("nrm") > 0)
      val qv = emb.where(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      val rel10 = emb.crossJoin(broadcast(qv))
        .withColumn("cos_e4",
          round(expr("graft_float_dot(embedding, q_emb)")
            / (col("nrm") * col("q_nrm")) * 10000).cast("long"))
        .where(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"), col("cos_e4"))
        .orderBy(col("cos_e4").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), lit(1L).as("is_rel"))
      val wDf = TextAnalysis.NdcgW.zipWithIndex
        .map { case (wt, i) => ((i + 1).toLong, wt) }.toDF("rank", "w")
      lex10.join(rel10, Seq("doc_id"), "left").na.fill(0L, Seq("is_rel"))
        .join(broadcast(wDf), "rank")
        .agg(sum(col("is_rel")).as("hits"),
             coalesce(max(when(col("is_rel") === 1L, expr("1000000 div rank"))),
               lit(0L)).as("mrr_e6"),
             sum(when(col("is_rel") === 1L, col("w")).otherwise(0L)).as("dcg_e6"))
        .select(col("hits"), col("mrr_e6"), col("dcg_e6"),
                expr(s"dcg_e6 * 1000000 div ${TextAnalysis.NdcgW.sum}").as("ndcg_e6"))
    }),

    "q_bm25" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val stats = dlen.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val qterms = dfreq.where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(5)
      bm25Score(tf, dlen, stats, qterms)
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(20)
    }),

    // PSEUDO-RELEVANCE FEEDBACK (Rocchio 1971 / RM-style query expansion —
    // the classic recall lever between first retrieval and re-ranking):
    // round 1 scores the seed query (q_bm25's 5 terms, shared helper), its
    // top-5 docs become the pseudo-relevant set, the 3 heaviest non-query
    // terms in that set (Σtf, tie = term — integer-exact) expand the
    // query, and round 2 re-scores the 8-term query for the final top-10.
    // Scale: the (doc, term) tf table derives from ONE corpus
    // tokenize/explode and both scoring rounds join it against a
    // BROADCAST term list (5 then 8 rows); the expansion mines only the
    // 5 feedback docs' rows. Nothing here re-scans text. Oracle = the same
    // two rounds as chained CTEs over the shared bm25 blocks.
    "q_rag_prf" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val tf = tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dlen = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
      val stats = dlen.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
      val dfreq = tf.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val qterms = dfreq.where(length(col("t")) >= 4)
        .orderBy(col("df").desc, col("t")).limit(5)
      val fb = bm25Score(tf, dlen, stats, qterms)
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(5)
        .select(col("doc_id"))
      val expand = tf.join(broadcast(fb), "doc_id")
        .join(qterms.select(col("t")), Seq("t"), "left_anti")
        .where(length(col("t")) >= 4)
        .groupBy(col("t")).agg(sum(col("tf")).as("w"))
        .orderBy(col("w").desc, col("t")).limit(3)
        .join(dfreq, "t").select(col("t"), col("df"))
      bm25Score(tf, dlen, stats, qterms.select(col("t"), col("df")).union(expand))
        .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10)
    }),

    // Domain-shift diagnostics for training-mixture design: KL(source ‖
    // corpus) over unigram distributions — which source's token
    // distribution deviates most from the blend (q_data_mix decides the
    // weights; this measures why). Every per-term contribution
    // p_s(t)·ln(p_s(t)/p(t)) is one fixed expression tree over exact
    // integer counts, rounded to 1e-8 units per TERM before the integer
    // sum (same accumulation-order discipline as q_unigram_lm). ONE corpus
    // token scan feeds the (source, term) count table; the coarser
    // distributions re-aggregate that table (vocab-sized work). The global
    // term table joins by term with no broadcast hint (planner-sized,
    // like q_unigram_lm's vocab join).
    "q_domain_kl" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      // ONE corpus tokenize/explode: every other distribution re-aggregates
      // the (source, term)-sized count table — the TF-IDF exchange-reuse
      // discipline, not four independent corpus scans
      val bySrc = tok.groupBy(col("source"), col("t")).agg(count(lit(1)).as("ct"))
      val srcTot = bySrc.groupBy(col("source")).agg(sum(col("ct")).as("ns"))
      val glob = bySrc.groupBy(col("t")).agg(sum(col("ct")).as("cg"))
      val tot = srcTot.agg(sum(col("ns")).as("ng"))
      bySrc.join(glob, "t").join(srcTot, "source").crossJoin(broadcast(tot))
        .select(col("source"), expr(
          """cast(round(1e8 * (cast(ct as double) / ns) *
            |  ln(cast(ct as double) * ng / (cast(ns as double) * cg))) as bigint)""".stripMargin)
          .as("term_kl"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_terms"), sum(col("term_kl")).as("kl_e8"))
        .orderBy(col("source"))
    }),

    // One BPE training round: count adjacent character pairs weighted by
    // word frequency — the merge-candidate table a tokenizer trainer ranks.
    // THE scale property: pair expansion runs over the DISTINCT-WORD
    // vocabulary (Heaps'-law sublinear in corpus size), never the corpus —
    // the word-frequency aggregate partial-aggregates map-side, so 100 TB
    // of text becomes one vocab-sized shuffle + a vocab-sized explode.
    // Top-20 by (count desc, pair) is tie-broken and deterministic; pure
    // integer counts, no float anywhere.
    "q_bpe_pairs" -> ((s, d) => {
      val freq = Tables.documents(s, d)
        .select(explode(split(trim(lower(col("text"))), " ")).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      freq
        .select(col("f"), explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("f")).as("n"))
        .orderBy(col("n").desc, col("pair")).limit(20)
    }),

    // Three ROUNDS of BPE training — the actual merge loop, not just one
    // pair table (algorithm + determinism notes on [[learnedMerges]]).
    "q_bpe_merges" -> ((s, d) => {
      val s2 = s
      import s2.implicits._
      learnedMerges(s, d).toDF("round", "pair", "n")
    }),

    // BPE APPLICATION — the other half of the tokenizer lifecycle: encode
    // every document under the 3 merges q_bpe_merges learned (train on the
    // vocab, apply to the corpus). The learned pairs arrive as 3 driver-side
    // scalars (same election collect as q_bpe_merges) and the encode is a
    // pure REPLACE chain per word — one linear scan over the corpus, no
    // shuffle until the per-doc groupBy. Marker chars keep merged symbols
    // 1-char, so symbol count = LEN after the chain; compression is an
    // integer-division e4 ratio (bit-exact). At 100 TB this is the
    // tokenize-the-corpus pass: merges broadcast as literals into the scan,
    // encode cost is O(corpus), output is a doc-keyed stat table.
    "q_bpe_encode" -> ((s, d) => {
      val merges = learnedMerges(s, d)
      val enc = merges.foldLeft(col("w")) { case (c, (round, pair, _)) =>
        call_function("replace", c, lit(pair), lit(round.toChar.toString))
      }
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(trim(lower(col("text"))), " ")).as("w"))
        .withColumn("w2", enc)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"),
             sum(length(col("w")).cast("long")).as("chars_in"),
             sum(length(col("w2")).cast("long")).as("syms_out"))
        .where(col("chars_in") > 0)
        .withColumn("compress_e4", expr("syms_out * 10000L div chars_in"))
        .orderBy(col("doc_id"))
    }),

    // PageRank over the token co-occurrence graph (TextRank, Mihalcea &
    // Tarau 2004) — the iterative graph-centrality primitive. The graph is
    // q_tok_cooccur's: top-50 vocab by df, undirected co-occurrence edges
    // weighted by shared-doc count. Three damped iterations (d = 0.85) in
    // PURE INTEGER arithmetic: rank lives in 1e-6 units, each edge
    // contribution is pr·w div W(u) (integer floor division), the damped
    // update is 150000 + 85·Σ div 100 — integer sums are
    // accumulation-order-independent, so both engines converge to the
    // identical fixed point trajectory (a double PageRank would diverge in
    // the low bits at iteration 1). Scale: each iteration is one edge⋈rank
    // equi-join + one groupBy — the textbook distributed PageRank round
    // (same shape on a billion-node web/domain graph, where this operator
    // ranks crawl domains for curation weighting); the vocab cap sizes the
    // HARNESS graph, not the algorithm. Edge building is the corpus-sized
    // stage and reuses q_tok_cooccur's broadcast-vocab pair expansion.
    "q_pagerank" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("doc_id"),
                explode(array_distinct(split(trim(lower(col("text"))), " "))).as("t"))
        .where(length(col("t")) >= 4)
      val voc = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("t")).limit(50)
      val dt = tok.join(broadcast(voc.select(col("t"))), "t")
      // map-side pair expansion from each doc's own vocab-token set (≤50
      // per doc) — the r14 pair-generation reshape (see q_tok_cooccur)
      val co = dt.groupBy(col("doc_id")).agg(collect_set(col("t")).as("xs"))
        .select(explode(col("xs")).as("ta"), col("xs"))
        .select(col("ta"), explode(col("xs")).as("tb"))
        .where(col("ta") < col("tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("w"))
      // symmetrize; localCheckpoint cuts the lineage the 3 iterations share
      val edges = co.select(col("ta").as("u"), col("tb").as("v"), col("w"))
        .union(co.select(col("tb").as("u"), col("ta").as("v"), col("w")))
        .localCheckpoint(true)
      val eW = edges.join(edges.groupBy("u").agg(sum(col("w")).as("wu")), "u")
      var pr = edges.select(col("u").as("t")).distinct()
        .withColumn("pr", lit(1000000L))
      for (_ <- 1 to 3) {
        pr = eW.join(pr.withColumnRenamed("t", "u"), "u")
          .select(col("v").as("t"), expr("pr * w div wu").as("c"))
          .groupBy(col("t")).agg(expr("150000L + 85L * sum(c) div 100").as("pr"))
      }
      pr.orderBy(col("pr").desc, col("t")).limit(20)
        .select(col("t"), col("pr").as("pr_e6"),
                row_number().over(Window.orderBy(col("pr").desc, col("t"))).as("rnk"))
    }),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per language,
    // split the corpus into head/middle/tail terciles of per-token NLL
    // under the corpus unigram LM (q_unigram_lm's score, composed). The
    // SCALE trap here is Window.partitionBy(lang): lang has ~5 values, so
    // each window partition holds corpus/5 rows — one task sorts 20 TB.
    // Instead the rank runs through DistRank's two-pass histogram over a
    // COMPOSITE key (langIdx · 2⁴⁰ + per_tok_e4): a single global
    // rank-by-histogram whose per-bucket sorts stay bounded, from which
    // each doc's per-lang rank is global rank − lang offset (the lang
    // count table is ~5 rows, broadcast). NTILE then derives from the
    // per-lang (rank, count) via DistRank.ntileFromRank — pure integer
    // arithmetic, bit-equal to the oracle's NTILE(3). Tie-break doc_id
    // keeps the total order unique (DistRank contract).
    "q_ccnet_bucket" -> ((s, d) => {
      val lm = queries("q_unigram_lm")(s, d).select(col("doc_id"), col("per_tok_e4"))
      // round-10 localCheckpoint: the LM scoring (a corpus pass) feeds the
      // lang index, the DistRank histogram+join, and the per-lang counts —
      // materialize the doc-sized scored frame once (24 static scans before)
      val scored = lm.join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
        .localCheckpoint(true)
      // dense lang index by lexicographic order — the window is over the
      // DISTINCT langs (≤ tens of rows), the DistRank-histogram exemption
      val langIdx = scored.select(col("lang")).distinct()
        .withColumn("li", row_number().over(Window.orderBy(col("lang"))).cast("long"))
      val withIdx = scored.join(broadcast(langIdx), "lang")
        .withColumn("ck", expr("li * 1099511627776L + per_tok_e4"))
      val ranked = DistRank.withGlobalRank(withIdx, col("ck"), col("doc_id"),
                                           bucketWidth = 1000L, "grk", "gn")
      val langCnt = withIdx.groupBy(col("li")).agg(count(lit(1)).as("ln"))
        .withColumn("loff", coalesce(sum(col("ln")).over(
          Window.orderBy(col("li")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      ranked.join(broadcast(langCnt), "li")
        .withColumn("lrk", col("grk") - col("loff"))
        .withColumn("tercile", DistRank.ntileFromRank("lrk", "ln", 3))
        .withColumn("bucket", expr(
          "case tercile when 1 then 'head' when 2 then 'middle' else 'tail' end"))
        .select(col("doc_id"), col("lang"), col("per_tok_e4"), col("tercile"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    // algorithm): positional 5-gram shingles → 28-bit md5 hashes → sliding
    // window of 4 → per-window minimum → distinct selected hashes = the
    // doc's fingerprint sketch. The guarantee: any shared run of ≥ w+n−1
    // = 8 tokens between two docs shares at least one selected
    // fingerprint, at an expected density of 2/(w+1) — the
    // robust-to-edit sketch behind plagiarism/contamination indexes (the
    // fingerprint, not the text, is what a 100 TB contamination join
    // shuffles; q_fingerprint's min-k sketch lacks the positional
    // guarantee). All hashing is the md5-28-bit idiom shared with
    // q_dedup_ngram, so the oracle reproduces every selected hash.
    "q_winnow" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextHashes.winnowMins(5, 4)(split(trim(col("text")), " ")).as("mins"))
        .withColumn("fp", array_sort(array_distinct(col("mins"))))
        .select(col("doc_id"),
          size(col("mins")).cast("long").as("n_windows"),
          size(col("fp")).cast("long").as("n_fp"),
          expr("size(fp) * 10000L div size(mins)").as("density_e4"),
          expr("fp[0]").as("fp_min"),
          md5(expr("concat_ws(',', transform(fp, x -> cast(x as string)))")).as("fp_hash"))
        .orderBy(col("doc_id"))),

    // Model-based quality scoring: a fixed-weight linear model over exact
    // integer text features (the learned-classifier stage of a C4/Gopher
    // cleaning pipeline; q_quality_filter is the rule-based gate it
    // replaces). Weights are integers and every feature is an exact integer
    // (counts and integer-division ratios), so the score — and therefore
    // the keep decision — is bit-exact on both engines at any SF. One
    // linear scan, no shuffle until the final audit ORDER BY; at 100 TB
    // the keep predicate pushes into the scan of downstream stages.
    "q_quality_score" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("toks", split(trim(lower(col("text"))), " "))
        .withColumn("n_tok", size(col("toks")).cast("long"))
        .where(col("n_tok") > 0)
        .withColumn("stop_hits",
          expr("cast(size(filter(toks, t -> t in ('the','a','of','and','to','in','is'))) as long)"))
        .withColumn("punct", length(regexp_replace(col("text"), "[^.,!?;:]", "")).cast("long"))
        .withColumn("digits", length(regexp_replace(col("text"), "[^0-9]", "")).cast("long"))
        .withColumn("alpha_ratio_e4",
          expr("length(regexp_replace(lower(text), '[^a-z]', '')) * 10000L div length(text)"))
        .withColumn("stop_ratio_e4", expr("stop_hits * 10000L div n_tok"))
        .withColumn("score",
          expr("""2L * least(n_tok, 500) + 3L * stop_ratio_e4 div 10
                 |  + alpha_ratio_e4 div 5 - 8L * punct - 4L * digits""".stripMargin))
        .select(col("doc_id"), col("n_tok"), col("stop_ratio_e4"),
                col("alpha_ratio_e4"), col("score"),
                (col("score") >= 2500).as("keep"))
        .orderBy(col("doc_id"))),

    // Vocabulary truncation + OOV audit (the tokenizer-budget question:
    // "with a V-token vocabulary, what out-of-vocabulary rate does each
    // language pay?"): corpus term counts → top-64 vocab by (count DESC,
    // token — D3 tie-break) → per-language OOV token rate in 1e-4 units.
    // Scale: the vocab is the OUTPUT of an aggregation (corpus-scaling
    // input, bounded output), selected by TakeOrdered (no full sort) and
    // broadcast back — the corpus-side pass stays one scan + one agg
    // shuffle; at a production vocab size (50k) the broadcast is still KB.
    "q_vocab_oov" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val vocab = tok.groupBy(col("t")).agg(count(lit(1)).as("ct"))
        .orderBy(col("ct").desc, col("t")).limit(64)
      tok.join(broadcast(vocab.select(col("t"), lit(1).as("iv"))), Seq("t"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
             sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_e4", expr("n_oov * 10000 div n_tokens"))
        .orderBy(col("lang"))
    }),

    // Token↔language mutual information — the feature-selection signal for
    // language ID / domain classifiers: which tokens carry the most
    // information about the document's language. MI(token) = Σ_lang
    // p(t,l)·ln(p(t,l)/(p(t)p(l))) — the same pointwise decomposition as
    // q_domain_kl, summed over the token's row of the contingency table
    // instead of the source's. Shapes: ONE corpus tokenize feeds the
    // (lang, token) cell counts; the token/lang marginals and the grand
    // total all RE-AGGREGATE that cell table (vocab-sized work, the
    // exchange-reuse discipline). Determinism: each cell contributes
    // round(1e8·(c_tl/N)·ln(c_tl·N/(c_t·c_l))) as an integer BEFORE the
    // per-token sum (q_domain_kl's rule); top-20 tie-break on token (D3).
    "q_mutual_info" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(split(trim(lower(col("text"))), " ")).as("t"))
      val cell = tok.groupBy(col("lang"), col("t")).agg(count(lit(1)).as("ctl"))
      val byTok = cell.groupBy(col("t")).agg(sum(col("ctl")).as("ct"))
      val byLang = cell.groupBy(col("lang")).agg(sum(col("ctl")).as("cl"))
      val tot = byLang.agg(sum(col("cl")).as("n"))
      cell.join(byTok, "t").join(broadcast(byLang), "lang").crossJoin(broadcast(tot))
        .select(col("t"), expr(
          """cast(round(1e8 * (cast(ctl as double) / n) *
            |  ln(cast(ctl as double) * n / (cast(ct as double) * cl))) as bigint)"""
            .stripMargin).as("cell_e8"))
        .groupBy(col("t"))
        .agg(count(lit(1)).as("n_langs"), sum(col("cell_e8")).as("mi_e8"))
        .orderBy(col("mi_e8").desc, col("t")).limit(20)
    }),

    // Top trigrams through the NATIVE table-generating function
    // (functions/NGrams.scala — the §2.10 UDTF extension point, exercised
    // as `LATERAL VIEW graft_ngrams(t, 3)` in SQL): each n-gram row streams
    // straight from the generator into the partial aggregate with no
    // per-document array materialization (see NGrams scaladoc vs the
    // shinglesAll kernel). Count/tie-break discipline as q_bpe_pairs.
    "q_udtf_ngrams" -> ((s, d) => {
      graft.functions.NGrams.register(s)
      Tables.documents(s, d)
        .select(col("doc_id"), trim(lower(col("text"))).as("t"))
        .createOrReplaceTempView("docs_ngram_v")
      s.sql("""SELECT ngram, COUNT(*) AS n
              |FROM docs_ngram_v LATERAL VIEW graft_ngrams(t, 3) AS ngram
              |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin)
    }),

    // Classifier-evaluation confusion matrix over q_lang_id's predictions
    // (the lang_id query COMPOSED, like q_ccnet_bucket composes
    // q_unigram_lm): per (actual, predicted) cell count + row-share in
    // 1e-4 units — the per-class recall diagonal a model-quality gate
    // reads. The matrix is |langs|² rows; everything after the prediction
    // stage is aggregate-sized.
    "q_lang_confusion" -> ((s, d) => {
      val pred = queries("q_lang_id")(s, d).select(col("actual"), col("pred_lang"))
      val conf = pred.groupBy(col("actual"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
      val tot = conf.groupBy(col("actual")).agg(sum(col("n")).as("n_actual"))
      conf.join(broadcast(tot), "actual")
        .select(col("actual"), col("pred_lang"), col("n"),
                expr("n * 10000 div n_actual").as("share_e4"))
        .orderBy(col("actual"), col("pred_lang"))
    }),

    // Tokenizer fertility per language: BPE-ish tokens per whitespace word
    // in 1e-4 units — the tokenizer-efficiency metric a multilingual
    // training team budgets by (a fertility-2 language pays 2× the
    // sequence length for the same text; q_vocab_oov's budget audit from
    // the other side). One scan, q_token_count's two tokenizations
    // aggregated by lang, exact integer ratio.
    "q_tokenizer_fertility" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
                size(split(trim(col("text")), " ")).cast("long").as("ws"),
                size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+', 0)"))
                  .cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
             sum(col("bpe")).as("bpe_tokens"))
        .withColumn("fertility_e4", expr("bpe_tokens * 10000 div ws_tokens"))
        .orderBy(col("lang"))),
  )

  /** Three ROUNDS of BPE training — the actual merge loop (shared by
    * q_bpe_merges, which reports it, and q_bpe_encode, which applies it):
    * each round counts adjacent symbol pairs over the current word forms
    * (weighted by word frequency), elects the top pair (count desc, pair
    * asc — deterministic), and rewrites the vocabulary with the merge
    * applied. A merged symbol is re-encoded as one marker char
    * (u0001..u0003 = CHR(round)), so every round's pairs stay exactly 2
    * chars and the rewrite is plain REPLACE (left-to-right non-overlapping
    * — identical semantics in Spark and DuckDB). The per-round election is
    * a 1-row driver collect (3 scalars total — the q_filter_bloom
    * contract-query pattern); the pair counting stays vocab-sized and
    * distributed. Only the BASE word-frequency frame is persisted — each
    * round's election re-applies the (cheap, vocab-sized) chain of prior
    * REPLACEs on top of it, so N rounds cost O(N²) replace passes over the
    * vocab; fine at 3, re-persist per round before scaling N up. Symbols
    * can shrink to length 1 after a merge — the per-round length guard
    * matters because Spark's sequence(1, 0) is a DESCENDING sequence, not
    * empty like DuckDB's RANGE(1, 1). */
  private def learnedMerges(s: SparkSession, d: String): Seq[(Int, String, Long)] = {
    val words = Tables.documents(s, d)
      .select(explode(split(trim(lower(col("text"))), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .persist()
    try {
      var vocab = words
      (1 to 3).map { round =>
        val top = vocab
          .where(length(col("w")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
          .groupBy(col("pair")).agg(sum(col("f")).as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .collect()(0)
        val (pair, n) = (top.getString(0), top.getLong(1))
        vocab = vocab.withColumn("w",
          call_function("replace", col("w"), lit(pair), lit(round.toChar.toString)))
        (round, pair, n)
      }
    } finally words.unpersist()
  }

  /** One BM25 scoring round over a (t, df) term list — the shared kernel of
    * q_bm25 and both q_rag_prf rounds (Okapi k1=1.2, b=0.75; per-term score
    * rounded to e4 BEFORE the integer sum, the accumulation-order
    * discipline). The term list is always query-sized, so it broadcasts. */
  private def bm25Score(tf: DataFrame, dlen: DataFrame, stats: DataFrame,
                        terms: DataFrame): DataFrame =
    tf.join(broadcast(terms), "t")
      .join(dlen, "doc_id").crossJoin(broadcast(stats))
      .select(col("doc_id"), expr(
        """cast(round(1e4 * ln(1.0 + (nd - df + 0.5) / (df + 0.5))
          |  * (tf * (1.2 + 1.0))
          |  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / cast(tl as double))))
          |as bigint)""".stripMargin).as("sc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("sc")).as("bm25_e4"))

  /** q_bm25's oracle as a shared val so compositions (q_rag_rerank) can
    * nest it verbatim — the unigramLmSql pattern. */
  /** nDCG@10 rank discounts, round(1e6/log2(i+1)) for i = 1..10 — shared
    * integer constants between the Spark op and its DuckDB oracle. */
  private[ops] val NdcgW: Seq[Long] = Seq(1000000L, 630930L, 500000L,
    430677L, 386853L, 356207L, 333333L, 315465L, 301030L, 289065L)

  private[ops] val bm25Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
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
      |ORDER BY bm25_e4 DESC, doc_id LIMIT 20""".stripMargin

  /** q_lang_id's oracle — shared verbatim as the prediction stage inside
    * q_lang_confusion's oracle, so the two stay consistent by construction
    * (the unigramLmSql pattern). */
  private val langIdSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS term
      |  FROM documents
      |), profile AS (
      |  SELECT plang, term FROM (
      |    SELECT lang AS plang, term, COUNT(*) AS cnt,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, term) AS rn
      |    FROM tok GROUP BY lang, term) t
      |  WHERE rn <= 20
      |), dt AS (SELECT DISTINCT doc_id, term FROM tok),
      |ov AS (
      |  SELECT dt.doc_id, p.plang, COUNT(*) AS ov
      |  FROM dt JOIN profile p ON dt.term = p.term
      |  GROUP BY dt.doc_id, p.plang
      |), pred AS (
      |  SELECT doc_id, plang, ROW_NUMBER() OVER (PARTITION BY doc_id
      |           ORDER BY ov DESC, plang) AS rn
      |  FROM ov)
      |SELECT d.doc_id, pred.plang AS pred_lang, d.lang AS actual,
      |  (pred.plang = d.lang) AS correct
      |FROM pred JOIN documents d ON pred.doc_id = d.doc_id
      |WHERE pred.rn = 1
      |ORDER BY d.doc_id""".stripMargin

  /** q_unigram_lm's oracle — shared verbatim as the scoring stage inside
    * q_ccnet_bucket's oracle, so the two stay consistent by construction. */
  private val unigramLmSql: String =
    """WITH tok AS (
      |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
      |vocab AS (SELECT t, COUNT(*) AS ct FROM tok GROUP BY t),
      |total AS (SELECT COUNT(*) AS nt FROM tok),
      |lp AS (
      |  SELECT doc_id, CAST(ROUND(-1e4 * LN(CAST(ct AS DOUBLE) / nt)) AS BIGINT) AS nll
      |  FROM tok JOIN vocab USING (t), total)
      |SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(nll) AS BIGINT) AS nll_e4,
      |  CAST(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*)) AS BIGINT) AS per_tok_e4
      |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  override def oracles: Map[String, String] = Map(
    // one e4 rounding per token type, exact integer mean per doc
    "q_lm_unigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, t FROM tok WHERE t <> ''),
        |cnt AS (SELECT t, COUNT(*) AS c FROM tk GROUP BY t),
        |lp AS (SELECT t, CAST(ROUND(-1e4 * LN(c /
        |         CAST((SELECT SUM(c) FROM cnt) AS DOUBLE))) AS BIGINT)
        |         AS nll_e4
        |       FROM cnt)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(CAST(SUM(nll_e4) AS BIGINT) // COUNT(*) AS BIGINT) AS nll_e4
        |FROM tk JOIN lp USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the top-1000 train vocab + per-split occurrence coverage, exact
    // integers (LIMIT ordering deterministic on both engines)
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, t,
        |         CASE WHEN doc_id % 7 = 0 THEN 'heldout' ELSE 'train' END AS split
        |       FROM tok WHERE t <> ''),
        |vocab AS (SELECT t FROM (
        |    SELECT t, COUNT(*) AS c FROM tk WHERE split = 'train'
        |    GROUP BY t) x
        |  ORDER BY c DESC, t LIMIT 1000)
        |SELECT split, CAST(COUNT(*) AS BIGINT) AS n_tok,
        |  CAST(COUNT(*) FILTER (WHERE v.t IS NULL) AS BIGINT) AS n_oov,
        |  CAST(COUNT(*) FILTER (WHERE v.t IS NULL) * 10000
        |    // COUNT(*) AS BIGINT) AS oov_e4
        |FROM tk LEFT JOIN vocab v ON tk.t = v.t
        |GROUP BY split ORDER BY split""".stripMargin,

    // the interpolated chain replayed: pair explode, context + unigram
    // counts, one e4 rounding per bigram type, exact integer mean
    "q_lm_bigram_nll" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
        |                x -> x <> '') AS tf
        |  FROM documents),
        |pair AS (
        |  SELECT doc_id, tf[u.i] AS w1, tf[u.i + 1] AS w2
        |  FROM d, UNNEST(range(1, LEN(tf))) AS u(i)),
        |uc AS (SELECT UNNEST(tf) AS t FROM d),
        |uni AS (SELECT t, COUNT(*) AS c FROM uc GROUP BY t),
        |ctx AS (SELECT w1, COUNT(*) AS cc FROM pair GROUP BY w1),
        |big AS (SELECT w1, w2, COUNT(*) AS cb FROM pair GROUP BY w1, w2),
        |nll AS (
        |  SELECT w1, w2,
        |    CAST(ROUND(-1e4 * LN((0.7 * cb) / CAST(cc AS DOUBLE)
        |      + (0.3 * c2) / CAST((SELECT SUM(c) FROM uni) AS DOUBLE)))
        |    AS BIGINT) AS nll_e4
        |  FROM big JOIN ctx USING (w1)
        |  JOIN (SELECT t AS w2, c AS c2 FROM uni) USING (w2))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_big,
        |  CAST(CAST(SUM(nll_e4) AS BIGINT) // COUNT(*) AS BIGINT) AS nll_e4
        |FROM pair JOIN nll USING (w1, w2)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the whole rule battery in exact integer units — the pass bit is the
    // contract, not just the intermediate stats
    "q_quality_gopher" ->
      """WITH base AS (SELECT doc_id, TRIM(text) AS t,
        |    STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(LEN(toks) AS BIGINT) AS n_words,
        |    CAST(LEN(REPLACE(t, ' ', '')) AS BIGINT) AS wlen,
        |    CAST(LEN(LIST_FILTER(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) AS BIGINT) AS n_stop,
        |    CAST(LEN(LIST_FILTER(toks, x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_alpha
        |  FROM base)
        |SELECT doc_id, n_words,
        |  wlen * 100 // n_words AS mean_wlen_e2, n_stop,
        |  n_alpha * 10000 // n_words AS alpha_e4,
        |  CAST(CASE WHEN n_words BETWEEN 50 AND 100000
        |    AND wlen * 100 // n_words BETWEEN 300 AND 1000
        |    AND n_stop >= 2
        |    AND n_alpha * 10000 // n_words >= 7000
        |    THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> langIdSql,

    "q_bm25" -> bm25Sql,

    // the same two Rocchio rounds as chained CTEs over the shared bm25
    // blocks: round-1 scores pick the 5 feedback docs, their 3 heaviest
    // non-query terms join the query, round 2 re-scores
    "q_rag_prf" ->
      """WITH tok AS (
        |  SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
        |dlen AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
        |stats AS (SELECT COUNT(*) AS nd, SUM(dl) AS tl FROM dlen),
        |dfreq AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        |qterms AS (SELECT t, df FROM dfreq WHERE LEN(t) >= 4
        |           ORDER BY df DESC, t LIMIT 5),
        |sc1 AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN qterms USING (t) JOIN dlen USING (doc_id), stats),
        |fb AS (SELECT doc_id FROM (
        |  SELECT doc_id, CAST(SUM(sc) AS BIGINT) AS s FROM sc1 GROUP BY doc_id
        |  ORDER BY s DESC, doc_id LIMIT 5)),
        |exp AS (SELECT t FROM (
        |  SELECT t, SUM(tf) AS w FROM tf JOIN fb USING (doc_id)
        |  WHERE LEN(t) >= 4 AND t NOT IN (SELECT t FROM qterms)
        |  GROUP BY t ORDER BY w DESC, t LIMIT 3)),
        |allt AS (SELECT t, df FROM qterms
        |         UNION ALL SELECT t, df FROM dfreq WHERE t IN (SELECT t FROM exp)),
        |sc2 AS (
        |  SELECT tf.doc_id,
        |    CAST(ROUND(1e4 * LN(1.0 + (nd - df + 0.5) / (df + 0.5))
        |      * (tf * (1.2 + 1.0))
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * nd / CAST(tl AS DOUBLE))))
        |    AS BIGINT) AS sc
        |  FROM tf JOIN allt USING (t) JOIN dlen USING (doc_id), stats)
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(sc) AS BIGINT) AS bm25_e4
        |FROM sc2 GROUP BY doc_id
        |ORDER BY bm25_e4 DESC, doc_id LIMIT 10""".stripMargin,

    // the ranked prefix under the budget, over the nested bm25 stage
    "q_rag_pack" ->
      s"""WITH cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |toks AS (SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(TRIM(text), ' ')) AS BIGINT) AS n_toks
        |  FROM documents),
        |ranked AS (SELECT c.doc_id, c.bm25_e4, toks.n_toks,
        |    CAST(ROW_NUMBER() OVER (ORDER BY c.bm25_e4 DESC, c.doc_id) AS BIGINT) AS rank,
        |    CAST(SUM(toks.n_toks) OVER (ORDER BY c.bm25_e4 DESC, c.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_toks
        |  FROM cand c JOIN toks USING (doc_id))
        |SELECT rank, doc_id, n_toks, cum_toks, bm25_e4
        |FROM ranked WHERE cum_toks <= 1200 ORDER BY rank""".stripMargin,

    // both stages are the declared oracles, nested verbatim
    "q_rag_rerank" ->
      s"""WITH cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |emb AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM emb WHERE vec_id = 0)
        |SELECT c.doc_id, c.bm25_e4,
        |  CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.embedding, q.q_emb),
        |    s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |    / (e.nrm * q.q_nrm) * 10000) AS INTEGER) AS cos_e4
        |FROM cand c JOIN emb e ON c.doc_id = e.vec_id, q
        |ORDER BY cos_e4 DESC, c.doc_id LIMIT 5""".stripMargin,

    // both rankers nested verbatim; fusion is rank-only arithmetic
    "q_rag_fusion" ->
      s"""WITH cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |lex AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bm25_e4 DESC, doc_id) AS BIGINT) AS lex_rank
        |  FROM cand),
        |emb AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM emb WHERE vec_id = 0),
        |cos AS (SELECT e.vec_id AS doc_id,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.embedding, q.q_emb),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |      / (e.nrm * q.q_nrm) * 10000) AS INTEGER) AS cos_e4
        |  FROM emb e, q),
        |dense AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cos_e4 DESC, doc_id) AS BIGINT) AS dense_rank
        |  FROM (SELECT * FROM cos ORDER BY cos_e4 DESC, doc_id LIMIT 20) t)
        |SELECT COALESCE(l.doc_id, de.doc_id) AS doc_id,
        |  COALESCE(l.lex_rank, CAST(-1 AS BIGINT)) AS lex_rank,
        |  COALESCE(de.dense_rank, CAST(-1 AS BIGINT)) AS dense_rank,
        |  COALESCE(CAST(ROUND(1e6 / (60 + l.lex_rank)) AS BIGINT), 0)
        |    + COALESCE(CAST(ROUND(1e6 / (60 + de.dense_rank)) AS BIGINT), 0) AS rrf_e6
        |FROM lex l FULL OUTER JOIN dense de ON l.doc_id = de.doc_id
        |ORDER BY rrf_e6 DESC, doc_id LIMIT 10""".stripMargin,

    // positive from the dense stage, negatives from the lexical stage minus
    // the dense set — both stages nested verbatim
    // clipped-count overlap in the same integer arithmetic; DuckDB lists
    // are 1-based (range(1, len) bigrams) where Spark's [] is 0-based
    "q_rouge" ->
      """WITH tk AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |h AS (SELECT COUNT(*) // 2 AS half FROM documents),
        |g1 AS (SELECT doc_id, UNNEST(toks) AS g FROM tk),
        |g2 AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
        |         i -> toks[CAST(i AS INT)] || ' ' || toks[CAST(i + 1 AS INT)])) AS g FROM tk),
        |c1 AS (SELECT doc_id, g, COUNT(*) AS c FROM g1 GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
        |r1 AS (
        |  SELECT a.doc_id,
        |    CAST(CAST(SUM(LEAST(a.c, COALESCE(b.c, 0))) AS BIGINT) * 10000
        |      // CAST(SUM(a.c) AS BIGINT) AS BIGINT) AS rouge1_e4
        |  FROM c1 a CROSS JOIN h
        |  LEFT JOIN c1 b ON b.doc_id = a.doc_id + h.half AND b.g = a.g
        |  WHERE a.doc_id < h.half
        |  GROUP BY a.doc_id),
        |r2 AS (
        |  SELECT a.doc_id,
        |    CAST(CAST(SUM(LEAST(a.c, COALESCE(b.c, 0))) AS BIGINT) * 10000
        |      // CAST(SUM(a.c) AS BIGINT) AS BIGINT) AS rouge2_e4
        |  FROM c2 a CROSS JOIN h
        |  LEFT JOIN c2 b ON b.doc_id = a.doc_id + h.half AND b.g = a.g
        |  WHERE a.doc_id < h.half
        |  GROUP BY a.doc_id)
        |SELECT r1.doc_id, r1.rouge1_e4,
        |  COALESCE(r2.rouge2_e4, 0) AS rouge2_e4
        |FROM r1 LEFT JOIN r2 USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the same two rankings; the discount weights inline as VALUES rows
    "q_rag_metrics" ->
      s"""WITH cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |lex AS (SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bm25_e4 DESC, doc_id) AS BIGINT) AS rank
        |  FROM (SELECT * FROM cand WHERE doc_id <> 0
        |        ORDER BY bm25_e4 DESC, doc_id LIMIT 10) t),
        |emb AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM emb WHERE vec_id = 0),
        |cos AS (SELECT e.vec_id AS doc_id,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.embedding, q.q_emb),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |      / (e.nrm * q.q_nrm) * 10000) AS BIGINT) AS cos_e4
        |  FROM emb e, q),
        |rel AS (SELECT doc_id FROM (SELECT * FROM cos WHERE doc_id <> 0
        |        ORDER BY cos_e4 DESC, doc_id LIMIT 10) t),
        |w(rank, wt) AS (VALUES ${NdcgW.zipWithIndex.map { case (wt, i) => s"(${i + 1}, $wt)" }.mkString(", ")}),
        |m AS (SELECT l.rank, CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel, w.wt
        |  FROM lex l LEFT JOIN rel r USING (doc_id) JOIN w ON w.rank = l.rank)
        |SELECT CAST(SUM(is_rel) AS BIGINT) AS hits,
        |  CAST(COALESCE(MAX(CASE WHEN is_rel = 1 THEN 1000000 // rank END), 0) AS BIGINT) AS mrr_e6,
        |  CAST(SUM(CASE WHEN is_rel = 1 THEN wt ELSE 0 END) AS BIGINT) AS dcg_e6,
        |  CAST(SUM(CASE WHEN is_rel = 1 THEN wt ELSE 0 END) * 1000000 // ${NdcgW.sum} AS BIGINT) AS ndcg_e6
        |FROM m""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |emb AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |q AS (SELECT embedding AS q_emb, nrm AS q_nrm FROM emb WHERE vec_id = 0),
        |cos AS (SELECT e.vec_id AS doc_id,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(e.embedding, q.q_emb),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |      / (e.nrm * q.q_nrm) * 10000) AS BIGINT) AS cos_e4
        |  FROM emb e, q),
        |dense AS (SELECT * FROM cos ORDER BY cos_e4 DESC, doc_id LIMIT 20),
        |pos AS (SELECT 'pos' AS role, CAST(1 AS BIGINT) AS pair_rank, doc_id,
        |               cos_e4 AS score_e4
        |        FROM dense WHERE doc_id <> 0 ORDER BY cos_e4 DESC, doc_id LIMIT 1),
        |negs AS (SELECT 'neg' AS role,
        |    CAST(ROW_NUMBER() OVER (ORDER BY bm25_e4 DESC, doc_id) AS BIGINT) AS pair_rank,
        |    doc_id, bm25_e4 AS score_e4
        |  FROM (SELECT * FROM cand
        |        WHERE doc_id <> 0 AND doc_id NOT IN (SELECT doc_id FROM dense)
        |        ORDER BY bm25_e4 DESC, doc_id LIMIT 5) t)
        |SELECT * FROM pos UNION ALL SELECT * FROM negs
        |ORDER BY role, pair_rank""".stripMargin,

    // the greedy chain replayed as a single-row-per-step recursive CTE
    "q_rag_mmr" ->
      s"""WITH RECURSIVE cand AS (SELECT doc_id, bm25_e4 FROM ($bm25Sql) t),
        |emb AS (SELECT vec_id, embedding,
        |    SQRT(LIST_SUM(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings
        |  WHERE LIST_SUM(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0),
        |ce AS (SELECT c.doc_id, c.bm25_e4, e.embedding, e.nrm
        |  FROM cand c JOIN emb e ON c.doc_id = e.vec_id),
        |mx AS (SELECT MAX(bm25_e4) AS mx FROM ce),
        |rel AS (SELECT doc_id,
        |    CAST(ROUND(1e4 * bm25_e4 / mx) AS BIGINT) AS rel_e4, embedding, nrm
        |  FROM ce, mx),
        |pairs AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    CAST(ROUND(LIST_SUM(LIST_TRANSFORM(LIST_ZIP(a.embedding, b.embedding),
        |      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)))
        |      / (a.nrm * b.nrm) * 10000) AS BIGINT) AS sim_e4
        |  FROM rel a JOIN rel b ON a.doc_id <> b.doc_id),
        |sel AS (
        |  SELECT CAST(1 AS BIGINT) AS sel_rank, doc_id, rel_e4,
        |      7 * rel_e4 AS mmr_e5, [doc_id] AS chosen
        |    FROM (SELECT doc_id, rel_e4 FROM rel
        |          ORDER BY rel_e4 DESC, doc_id LIMIT 1) f
        |  UNION ALL
        |  SELECT s.sel_rank + 1, p.doc_id, p.rel_e4, p.mmr_e5,
        |      LIST_APPEND(s.chosen, p.doc_id)
        |    FROM sel s, LATERAL (
        |      SELECT r.doc_id, r.rel_e4,
        |        7 * r.rel_e4 - 3 * (SELECT MAX(p2.sim_e4) FROM pairs p2
        |          WHERE p2.da = r.doc_id AND LIST_CONTAINS(s.chosen, p2.db)) AS mmr_e5
        |      FROM rel r WHERE NOT LIST_CONTAINS(s.chosen, r.doc_id)
        |      ORDER BY mmr_e5 DESC, r.doc_id LIMIT 1) p
        |    WHERE s.sel_rank < 5)
        |SELECT sel_rank, doc_id, rel_e4, mmr_e5 FROM sel ORDER BY sel_rank""".stripMargin,

    "q_domain_kl" ->
      """WITH tok AS (
        |  SELECT source, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |by_src AS (SELECT source, t, COUNT(*) AS ct FROM tok GROUP BY source, t),
        |src_tot AS (SELECT source, COUNT(*) AS ns FROM tok GROUP BY source),
        |corpus_t AS (SELECT t, COUNT(*) AS cg FROM tok GROUP BY t),
        |tot AS (SELECT COUNT(*) AS ng FROM tok),
        |term_kl AS (
        |  SELECT b.source,
        |    CAST(ROUND(1e8 * (CAST(ct AS DOUBLE) / ns) *
        |      LN(CAST(ct AS DOUBLE) * ng / (CAST(ns AS DOUBLE) * cg))) AS BIGINT) AS kl
        |  FROM by_src b JOIN corpus_t USING (t) JOIN src_tot USING (source), tot)
        |SELECT source, COUNT(*) AS n_terms, CAST(SUM(kl) AS BIGINT) AS kl_e8
        |FROM term_kl GROUP BY source ORDER BY source""".stripMargin,

    "q_unigram_lm" -> unigramLmSql,

    "q_bigram_lm" ->
      """WITH tk AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |bg AS (
        |  SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 1, 1)),
        |    i -> ARRAY_TO_STRING(toks[i + 1:i + 2], ' '))) AS bg
        |  FROM tk),
        |c2 AS (SELECT bg, COUNT(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT SPLIT_PART(bg, ' ', 1) AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(ROUND(1e4 * LN(CAST(c1 AS DOUBLE) / c2)) AS BIGINT) AS nll
        |  FROM bg JOIN c2 USING (bg) JOIN c1 ON SPLIT_PART(bg.bg, ' ', 1) = c1.w1)
        |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(nll) AS BIGINT) AS nll_e4,
        |  CAST(ROUND(CAST(SUM(nll) AS DOUBLE) / COUNT(*)) AS BIGINT) AS per_big_e4
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_kmv_sketch" ->
      """WITH mem AS (
        |  SELECT DISTINCT source, UNNEST(LIST_DISTINCT(
        |    STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS t
        |  FROM documents),
        |vh AS (
        |  SELECT DISTINCT source,
        |         CAST(('0x' || SUBSTR(md5(t), 1, 12)) AS BIGINT) AS h
        |  FROM mem),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM vh) WHERE rn <= 128),
        |pr AS (
        |  SELECT a.source AS a, b.source AS b
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
        |mg AS (
        |  SELECT a, b, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
        |    SELECT pr.a, pr.b, sk.h, 1 AS ia, 0 AS ib FROM pr JOIN sk ON sk.source = pr.a
        |    UNION ALL
        |    SELECT pr.a, pr.b, sk.h, 0 AS ia, 1 AS ib FROM pr JOIN sk ON sk.source = pr.b)
        |  GROUP BY a, b, h),
        |est AS (
        |  SELECT a, b, CAST(SUM(ia * ib) AS BIGINT) AS n_common,
        |         CAST(SUM(ia * ib) * 10000 // COUNT(*) AS BIGINT) AS kmv_jac_e4
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a, b ORDER BY h) AS rn
        |        FROM mg) WHERE rn <= 128
        |  GROUP BY a, b),
        |sz AS (SELECT source, COUNT(*) AS nv FROM mem GROUP BY source),
        |intr AS (
        |  SELECT x.source AS a, y.source AS b, COUNT(*) AS ni
        |  FROM mem x JOIN mem y ON x.t = y.t AND x.source < y.source
        |  GROUP BY x.source, y.source)
        |SELECT est.a, est.b, est.n_common, est.kmv_jac_e4,
        |       CAST(intr.ni * 10000 // (sa.nv + sb.nv - intr.ni) AS BIGINT) AS exact_jac_e4
        |FROM est JOIN intr ON est.a = intr.a AND est.b = intr.b
        |JOIN sz sa ON sa.source = est.a JOIN sz sb ON sb.source = est.b
        |ORDER BY est.a, est.b""".stripMargin,

    "q_kmv_setops" ->
      """WITH mem AS (
        |  SELECT DISTINCT source, UNNEST(LIST_DISTINCT(
        |    STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS t
        |  FROM documents),
        |vh AS (
        |  SELECT DISTINCT source,
        |         CAST(('0x' || SUBSTR(md5(t), 1, 12)) AS BIGINT) AS h
        |  FROM mem),
        |sk AS (
        |  SELECT source, h FROM (
        |    SELECT source, h,
        |           ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
        |    FROM vh) WHERE rn <= 128),
        |pr AS (
        |  SELECT a.source AS a, b.source AS b
        |  FROM (SELECT DISTINCT source FROM sk) a
        |  JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source),
        |mg AS (
        |  SELECT a, b, h, MAX(ia) AS ia, MAX(ib) AS ib FROM (
        |    SELECT pr.a, pr.b, sk.h, 1 AS ia, 0 AS ib FROM pr JOIN sk ON sk.source = pr.a
        |    UNION ALL
        |    SELECT pr.a, pr.b, sk.h, 0 AS ia, 1 AS ib FROM pr JOIN sk ON sk.source = pr.b)
        |  GROUP BY a, b, h),
        |est AS (
        |  SELECT a, b, CAST(SUM(ia * ib) AS BIGINT) AS n_common,
        |         COUNT(*) AS kk, MAX(h) AS hk
        |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY a, b ORDER BY h) AS rn
        |        FROM mg) WHERE rn <= 128
        |  GROUP BY a, b),
        |ue AS (
        |  SELECT a, b, n_common, kk,
        |    CAST(CASE WHEN kk < 128 THEN kk
        |         ELSE 127 * 281474976710656 // hk END AS BIGINT) AS union_est
        |  FROM est),
        |sz AS (SELECT source, COUNT(*) AS nv FROM mem GROUP BY source),
        |intr AS (
        |  SELECT x.source AS a, y.source AS b, COUNT(*) AS ni
        |  FROM mem x JOIN mem y ON x.t = y.t AND x.source < y.source
        |  GROUP BY x.source, y.source)
        |SELECT ue.a, ue.b, ue.union_est,
        |  CAST(ue.n_common * ue.union_est // ue.kk AS BIGINT) AS inter_est,
        |  CAST(sa.nv + sb.nv - intr.ni AS BIGINT) AS exact_union,
        |  CAST(intr.ni AS BIGINT) AS exact_inter
        |FROM ue JOIN intr ON ue.a = intr.a AND ue.b = intr.b
        |JOIN sz sa ON sa.source = ue.a JOIN sz sb ON sb.source = ue.b
        |ORDER BY ue.a, ue.b""".stripMargin,

    "q_chi2_terms" ->
      """WITH tok AS (
        |  SELECT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |cell AS (SELECT lang, t, COUNT(*) AS ctl FROM tok GROUP BY lang, t),
        |by_tok AS (SELECT t, CAST(SUM(ctl) AS BIGINT) AS ct FROM cell GROUP BY t),
        |by_lang AS (SELECT lang, CAST(SUM(ctl) AS BIGINT) AS cl FROM cell GROUP BY lang),
        |tot AS (SELECT CAST(SUM(cl) AS BIGINT) AS n FROM by_lang)
        |SELECT cell.t, cell.lang, cell.ctl,
        |  CAST(ROUND(1e4 * n *
        |    POW(CAST(ctl AS DOUBLE) * (n - ct - cl + ctl)
        |        - CAST(ct - ctl AS DOUBLE) * (cl - ctl), 2)
        |    / (CAST(ct AS DOUBLE) * (n - ct) * cl * (n - cl))) AS BIGINT) AS chi2_e4
        |FROM cell JOIN by_tok USING (t) JOIN by_lang USING (lang), tot
        |WHERE ct < n
        |ORDER BY chi2_e4 DESC, t, lang LIMIT 20""".stripMargin,

    "q_zipf_fit" ->
      """WITH tok AS (
        |  SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |vc AS (SELECT t, COUNT(*) AS ct FROM tok GROUP BY t
        |       ORDER BY ct DESC, t LIMIT 100),
        |rk AS (SELECT ct, ROW_NUMBER() OVER (ORDER BY ct DESC, t) AS r FROM vc),
        |xy AS (SELECT CAST(ROUND(1e6 * LN(CAST(r AS DOUBLE))) AS BIGINT) AS x,
        |              CAST(ROUND(1e6 * LN(CAST(ct AS DOUBLE))) AS BIGINT) AS y
        |       FROM rk),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |             CAST(SUM(x * y) AS BIGINT) AS sxy,
        |             CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM xy)
        |SELECT n,
        |  CAST(ROUND(1e6 * (CAST(n * sxy - sx * sy AS DOUBLE)
        |                    / CAST(n * sxx - sx * sx AS DOUBLE))) AS BIGINT) AS slope_e6,
        |  CAST(ROUND((CAST(sy AS DOUBLE)
        |              - (CAST(n * sxy - sx * sy AS DOUBLE)
        |                 / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
        |             / CAST(n AS DOUBLE)) AS BIGINT) AS icept_e6
        |FROM m""".stripMargin,

    "q_entropy" ->
"""WITH tf AS (
        |  SELECT doc_id, t, COUNT(*) AS c FROM (
        |    SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |    FROM documents)
        |  GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS L,
        |              COUNT(*) AS n_distinct FROM tf GROUP BY doc_id),
        |h AS (
        |  SELECT tf.doc_id, dl.L, dl.n_distinct,
        |    CAST(ROUND(1e4 * (CAST(c AS DOUBLE) / L) * LN(CAST(L AS DOUBLE) / c)) AS BIGINT) AS h
        |  FROM tf JOIN dl ON tf.doc_id = dl.doc_id)
        |SELECT doc_id, MAX(L) AS n_tok, MAX(n_distinct) AS n_distinct,
        |  CAST(SUM(h) AS BIGINT) AS ent_e4
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Plain per-lang NTILE(3) — the Spark side reproduces it through the
    // DistRank composite-key two-pass (see the query comment), and
    // ntileFromRank's integer formula is bit-equal to SQL NTILE.
    "q_ccnet_bucket" ->
      s"""WITH lm AS (SELECT doc_id, per_tok_e4 FROM ($unigramLmSql) t),
        |sc AS (SELECT lm.doc_id, d.lang, lm.per_tok_e4
        |       FROM lm JOIN documents d ON lm.doc_id = d.doc_id),
        |b AS (SELECT doc_id, lang, per_tok_e4,
        |        CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY per_tok_e4, doc_id)
        |          AS INTEGER) AS tercile
        |      FROM sc)
        |SELECT doc_id, lang, per_tok_e4, tercile,
        |  CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM b ORDER BY doc_id""".stripMargin,

    // Mirrors the positional (non-distinct) 5-gram windows, the 28-bit md5
    // hash idiom, the 4-window minima, and the sorted-distinct fingerprint
    // CSV exactly. Lists are 1-based here, 0-based in Spark.
    "q_winnow" ->
      """WITH base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |gr AS (SELECT doc_id, LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
        |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' ')) AS gr FROM base),
        |hx AS (SELECT doc_id,
        |         LIST_TRANSFORM(gr, s -> CAST(('0x' || SUBSTR(md5(s), 1, 7)) AS BIGINT)) AS hx
        |       FROM gr),
        |mn AS (SELECT doc_id,
        |         LIST_TRANSFORM(RANGE(0, GREATEST(LEN(hx) - 3, 1)),
        |           i -> LIST_MIN(hx[CAST(i + 1 AS INTEGER):CAST(i + 4 AS INTEGER)])) AS mins
        |       FROM hx),
        |fp AS (SELECT doc_id, mins, LIST_SORT(LIST_DISTINCT(mins)) AS fp FROM mn)
        |SELECT doc_id,
        |  CAST(LEN(mins) AS BIGINT) AS n_windows,
        |  CAST(LEN(fp) AS BIGINT) AS n_fp,
        |  CAST(LEN(fp) AS BIGINT) * 10000 // CAST(LEN(mins) AS BIGINT) AS density_e4,
        |  fp[1] AS fp_min,
        |  md5(ARRAY_TO_STRING(fp, ',')) AS fp_hash
        |FROM fp ORDER BY doc_id""".stripMargin,

    // the same 3-round merge chain, unrolled: each p_i is the round's
    // elected pair (scalar CTE), each freq_i the vocabulary after applying
    // it via REPLACE with the CHR(round) marker
    "q_bpe_merges" ->
      """WITH freq0 AS (
        |  SELECT w, COUNT(*) AS f FROM (
        |    SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w FROM documents)
        |  WHERE LEN(w) >= 2 GROUP BY w),
        |p1 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, CAST(SUM(f) AS BIGINT) AS n
        |       FROM freq0, UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |freq1 AS (SELECT REPLACE(w, (SELECT pair FROM p1), CHR(1)) AS w, f FROM freq0),
        |p2 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, CAST(SUM(f) AS BIGINT) AS n
        |       FROM freq1, UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       WHERE LEN(w) >= 2 GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
        |freq2 AS (SELECT REPLACE(w, (SELECT pair FROM p2), CHR(2)) AS w, f FROM freq1),
        |p3 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, CAST(SUM(f) AS BIGINT) AS n
        |       FROM freq2, UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       WHERE LEN(w) >= 2 GROUP BY 1 ORDER BY n DESC, pair LIMIT 1)
        |SELECT CAST(1 AS INTEGER) AS round, pair, n FROM p1
        |UNION ALL SELECT CAST(2 AS INTEGER), pair, n FROM p2
        |UNION ALL SELECT CAST(3 AS INTEGER), pair, n FROM p3
        |ORDER BY round""".stripMargin,

    // Re-learns the same 3 merges (p1-p3 CTEs identical to q_bpe_merges),
    // then applies the REPLACE chain to every word of every document.
    "q_bpe_encode" ->
      """WITH freq0 AS (
        |  SELECT w, COUNT(*) AS f FROM (
        |    SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w FROM documents)
        |  WHERE LEN(w) >= 2 GROUP BY w),
        |p1 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair FROM freq0,
        |       UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       GROUP BY 1 ORDER BY SUM(f) DESC, pair LIMIT 1),
        |freq1 AS (SELECT REPLACE(w, (SELECT pair FROM p1), CHR(1)) AS w, f FROM freq0),
        |p2 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair FROM freq1,
        |       UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       WHERE LEN(w) >= 2 GROUP BY 1 ORDER BY SUM(f) DESC, pair LIMIT 1),
        |freq2 AS (SELECT REPLACE(w, (SELECT pair FROM p2), CHR(2)) AS w, f FROM freq1),
        |p3 AS (SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair FROM freq2,
        |       UNNEST(RANGE(1, LEN(w))) AS t(i)
        |       WHERE LEN(w) >= 2 GROUP BY 1 ORDER BY SUM(f) DESC, pair LIMIT 1),
        |dw AS (
        |  SELECT doc_id, w,
        |    REPLACE(REPLACE(REPLACE(w, (SELECT pair FROM p1), CHR(1)),
        |            (SELECT pair FROM p2), CHR(2)),
        |            (SELECT pair FROM p3), CHR(3)) AS w2
        |  FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w
        |        FROM documents))
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
        |  CAST(SUM(LEN(w)) AS BIGINT) AS chars_in,
        |  CAST(SUM(LEN(w2)) AS BIGINT) AS syms_out,
        |  CAST(SUM(LEN(w2)) AS BIGINT) * 10000 // CAST(SUM(LEN(w)) AS BIGINT)
        |    AS compress_e4
        |FROM dw GROUP BY doc_id HAVING SUM(LEN(w)) > 0 ORDER BY doc_id""".stripMargin,

    // Integer-arithmetic PageRank: contributions pr·w // wu, damped update
    // 150000 + 85·Σ // 100 — floor division on positive BIGINTs matches
    // Spark's `div` exactly, so all three iterations are engine-identical.
    "q_pagerank" ->
      """WITH tk AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, t FROM tk WHERE LENGTH(t) >= 4),
        |voc AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t
        |        ORDER BY df DESC, t LIMIT 50),
        |dt AS (SELECT tok.doc_id, tok.t FROM tok JOIN voc ON tok.t = voc.t),
        |co AS (SELECT a.t AS ta, b.t AS tb, CAST(COUNT(*) AS BIGINT) AS w
        |       FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |       GROUP BY a.t, b.t),
        |e AS (SELECT ta AS u, tb AS v, w FROM co
        |      UNION ALL SELECT tb, ta, w FROM co),
        |ew AS (SELECT e.u, e.v, e.w, wo.wu FROM e
        |       JOIN (SELECT u, CAST(SUM(w) AS BIGINT) AS wu FROM e GROUP BY u) wo
        |         ON e.u = wo.u),
        |p0 AS (SELECT DISTINCT u AS t, CAST(1000000 AS BIGINT) AS pr FROM e),
        |p1 AS (SELECT ew.v AS t,
        |         CAST(150000 + 85 * SUM(p0.pr * ew.w // ew.wu) // 100 AS BIGINT) AS pr
        |       FROM ew JOIN p0 ON ew.u = p0.t GROUP BY ew.v),
        |p2 AS (SELECT ew.v AS t,
        |         CAST(150000 + 85 * SUM(p1.pr * ew.w // ew.wu) // 100 AS BIGINT) AS pr
        |       FROM ew JOIN p1 ON ew.u = p1.t GROUP BY ew.v),
        |p3 AS (SELECT ew.v AS t,
        |         CAST(150000 + 85 * SUM(p2.pr * ew.w // ew.wu) // 100 AS BIGINT) AS pr
        |       FROM ew JOIN p2 ON ew.u = p2.t GROUP BY ew.v)
        |SELECT t, pr AS pr_e6,
        |  CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, t) AS INTEGER) AS rnk
        |FROM p3 ORDER BY pr DESC, t LIMIT 20""".stripMargin,

    "q_bpe_pairs" ->
      """WITH freq AS (
        |  SELECT w, COUNT(*) AS f FROM (
        |    SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS w FROM documents)
        |  WHERE LEN(w) >= 2 GROUP BY w),
        |p AS (
        |  SELECT SUBSTR(w, CAST(i AS INTEGER), 2) AS pair, f
        |  FROM freq, UNNEST(RANGE(1, LEN(w))) AS t(i))
        |SELECT pair, CAST(SUM(f) AS BIGINT) AS n
        |FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(LEN(STRING_SPLIT(TRIM(text), ' ')) AS INTEGER) AS ws_tokens,
        |  CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+|[0-9]+|[^a-z0-9 ]+')) AS INTEGER) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """WITH base AS (SELECT doc_id, STRING_SPLIT(TRIM(text), ' ') AS toks FROM documents),
        |sh AS (SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 4, 1)),
        |         i -> ARRAY_TO_STRING(toks[i + 1:i + 5], ' '))) AS sh FROM base)
        |SELECT doc_id,
        |  ARRAY_TO_STRING(LIST_SORT(LIST_TRANSFORM(sh, s -> md5(s)))[1:4], ',') AS fp,
        |  LIST_SORT(LIST_TRANSFORM(sh, s -> md5(s)))[1] AS min_hash
        |FROM sh ORDER BY doc_id""".stripMargin,

    "q_sentiment" ->
      """WITH t AS (
        |  SELECT doc_id, STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |sc AS (
        |  SELECT doc_id,
        |    CAST(2 * LEN(LIST_FILTER(toks, t -> t = 'fast'))
        |       - 2 * LEN(LIST_FILTER(toks, t -> t = 'slow'))
        |       + LEN(LIST_FILTER(toks, t -> t = 'big'))
        |       - LEN(LIST_FILTER(toks, t -> t = 'small'))
        |       - 3 * LEN(LIST_FILTER(toks, t -> t = 'dup')) AS INTEGER) AS score
        |  FROM t)
        |SELECT doc_id, score,
        |  CASE WHEN score > 2 THEN 'pos' WHEN score < -2 THEN 'neg'
        |       ELSE 'neutral' END AS label
        |FROM sc ORDER BY doc_id""".stripMargin,

    "q_tok_cooccur" ->
      """WITH tk AS (
        |  SELECT doc_id, UNNEST(LIST_DISTINCT(STRING_SPLIT(TRIM(LOWER(text)), ' '))) AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, t FROM tk WHERE LENGTH(t) >= 4),
        |voc AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t
        |        ORDER BY df DESC, t LIMIT 50),
        |dt AS (SELECT tok.doc_id, tok.t, voc.df FROM tok JOIN voc ON tok.t = voc.t),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |pr AS (SELECT a.t AS ta, b.t AS tb, COUNT(*) AS n_co,
        |         MAX(a.df) AS dfa, MAX(b.df) AS dfb
        |       FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.t < b.t
        |       GROUP BY a.t, b.t)
        |SELECT ta, tb, n_co,
        |  CAST(ROUND(1e4 * LN(CAST(n_co AS DOUBLE) * nd / (dfa * dfb))) AS BIGINT) AS pmi_e4
        |FROM pr, n ORDER BY n_co DESC, ta, tb LIMIT 20""".stripMargin,

    "q_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS BIGINT) AS n_tok,
        |    CAST(LEN(LIST_FILTER(STRING_SPLIT(TRIM(LOWER(text)), ' '),
        |      t -> LIST_CONTAINS(['the','a','of','and','to','in','is'], t))) AS BIGINT) AS stop_hits,
        |    CAST(LENGTH(REGEXP_REPLACE(text, '[^.,!?;:]', '', 'g')) AS BIGINT) AS punct,
        |    CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS BIGINT) AS digits,
        |    CAST(LENGTH(REGEXP_REPLACE(LOWER(text), '[^a-z]', '', 'g')) AS BIGINT) * 10000
        |      // CAST(LENGTH(text) AS BIGINT) AS alpha_ratio_e4
        |  FROM documents
        |  WHERE LEN(STRING_SPLIT(TRIM(LOWER(text)), ' ')) > 0),
        |g AS (
        |  SELECT doc_id, n_tok, stop_hits * 10000 // n_tok AS stop_ratio_e4,
        |    alpha_ratio_e4, punct, digits
        |  FROM f),
        |h AS (
        |  SELECT doc_id, n_tok, stop_ratio_e4, alpha_ratio_e4,
        |    2 * LEAST(n_tok, 500) + 3 * stop_ratio_e4 // 10
        |      + alpha_ratio_e4 // 5 - 8 * punct - 4 * digits AS score
        |  FROM g)
        |SELECT doc_id, n_tok, stop_ratio_e4, alpha_ratio_e4, score,
        |  (score >= 2500) AS keep
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_vocab_oov" ->
      """WITH tok AS (
        |  SELECT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t
        |  FROM documents),
        |vocab AS (
        |  SELECT t FROM (SELECT t, COUNT(*) AS ct FROM tok GROUP BY t)
        |  ORDER BY ct DESC, t LIMIT 64)
        |SELECT lang, COUNT(*) AS n_tokens,
        |  CAST(SUM(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  CAST(SUM(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END) AS BIGINT)
        |    * 10000 // COUNT(*) AS oov_e4
        |FROM tok GROUP BY lang ORDER BY lang""".stripMargin,

    "q_mutual_info" ->
      """WITH tok AS (
        |  SELECT lang, UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |cell AS (SELECT lang, t, COUNT(*) AS ctl FROM tok GROUP BY lang, t),
        |by_tok AS (SELECT t, CAST(SUM(ctl) AS BIGINT) AS ct FROM cell GROUP BY t),
        |by_lang AS (SELECT lang, CAST(SUM(ctl) AS BIGINT) AS cl FROM cell GROUP BY lang),
        |tot AS (SELECT CAST(SUM(cl) AS BIGINT) AS n FROM by_lang),
        |mi AS (
        |  SELECT cell.t,
        |    CAST(ROUND(1e8 * (CAST(ctl AS DOUBLE) / n) *
        |      LN(CAST(ctl AS DOUBLE) * n / (CAST(ct AS DOUBLE) * cl))) AS BIGINT) AS ce
        |  FROM cell JOIN by_tok USING (t) JOIN by_lang USING (lang), tot)
        |SELECT t, COUNT(*) AS n_langs, CAST(SUM(ce) AS BIGINT) AS mi_e8
        |FROM mi GROUP BY t
        |ORDER BY mi_e8 DESC, t LIMIT 20""".stripMargin,

    "q_udtf_ngrams" ->
      """WITH tk AS (
        |  SELECT STRING_SPLIT(TRIM(LOWER(text)), ' ') AS toks FROM documents),
        |tg AS (
        |  SELECT UNNEST(LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - 2, 0)),
        |    i -> ARRAY_TO_STRING(toks[i + 1:i + 3], ' '))) AS ngram
        |  FROM tk)
        |SELECT ngram, COUNT(*) AS n FROM tg
        |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin,

    "q_lang_confusion" ->
      s"""WITH conf AS (
         |  SELECT actual, pred_lang, COUNT(*) AS n
         |  FROM ($langIdSql) p GROUP BY 1, 2),
         |tot AS (
         |  SELECT actual, CAST(SUM(n) AS BIGINT) AS n_actual
         |  FROM conf GROUP BY 1)
         |SELECT conf.actual, conf.pred_lang, conf.n,
         |  conf.n * 10000 // tot.n_actual AS share_e4
         |FROM conf JOIN tot ON conf.actual = tot.actual
         |ORDER BY conf.actual, conf.pred_lang""".stripMargin,

    "q_tokenizer_fertility" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(STRING_SPLIT(TRIM(text), ' '))) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS BIGINT) AS bpe_tokens,
        |  CAST(SUM(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
        |    '[a-z]+|[0-9]+|[^a-z0-9 ]+'))) AS BIGINT) * 10000
        |    // CAST(SUM(LEN(STRING_SPLIT(TRIM(text), ' '))) AS BIGINT)
        |    AS fertility_e4
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
  )
}
