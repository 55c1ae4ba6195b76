package graft.sources

import graft.Local
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField}

/** PERSISTED SPARSE (BM25) TEXT INDEX — the sparse twin of [[AnnIndex]]
  * (round-11 verdict #4): q_bm25 recomputes the whole tf/df/dlen stack
  * inside every query; a retrieval system builds those tables ONCE and
  * serves queries from them (Lucene's inverted index as a table). Both
  * halves are ordinary graft-store tables under the shared generation
  * pointer ([[IndexGen]] — rebuilds stage aside and publish atomically):
  *
  *  - `postings` — one row per (term, doc): k = doc_id, grp = the term's
  *    SHARD (`b<hash(t) % 16>`), amt_cents = tf, trailing `term` (string)
  *    and `dl` (the doc's length, denormalized the way impact-ordered
  *    posting formats carry norms — scoring never joins a doclen table).
  *    IDENTITY-PARTITIONED on the shard: a probe for q query terms PLANS
  *    only their shards' partitions (the store's partition pruning is the
  *    posting-list lookup), never the corpus. Sharding, not term-per-
  *    partition: vocabulary is unbounded, shards are fixed — the file
  *    count stays sane at any corpus size while pruning stays
  *    term-selective (≤ q of 16 shards).
  *  - `terms` — the dictionary: k = xxhash64(term) (zone locality only;
  *    the string is the key), grp = shard, amt_cents = df, trailing
  *    `term`. Same partitioning, so df lookups prune the same way.
  *  - corpus stats (nd = docs, tl = total tokens) ride the terms store's
  *    `_props` as exact integers, with corpus provenance for [[refresh]].
  *
  * Tokenization and scoring replicate ops/TextAnalysis q_bm25 EXACTLY
  * (split-on-space of trimmed lowercase text; Okapi k1=1.2 b=0.75,
  * per-term e4 rounding before the integer sum), so an indexed probe is
  * bit-identical to the recompute pipeline and SHARES its DuckDB oracle —
  * the AnnIndex "persisted == retrained" contract, sparse edition.
  *
  * Maintenance is INCREMENTAL ([[refresh]]): the corpus store's change
  * feed is re-tokenized (CDF delete rows carry the dead doc's text, so
  * deletes never read the index), df/nd/tl adjust by exact integer
  * deltas, and only TOUCHED shards rewrite in one replace-set commit —
  * cost tracks changed docs' tokens, never the corpus. */
object TextIndex {

  private val Fmt = "graft.sources.StoreSink"
  val CorpusProp = "graft.index.corpus"
  val VersionProp = "graft.index.corpus_version"
  val NdProp = "graft.text.nd"
  val TlProp = "graft.text.tl"
  /** "1" while the postings' per-posting `imp` column (quantized tf/dl
    * impact) is a VALID scoring bound. The tf/dl part is DECREASING in
    * dl·nd/tl, so a stored impact quantized at vintage ratio rv stays an
    * upper bound at any probe ratio rp ≥ rv — a refresh therefore keeps
    * the bound ARMED when the corpus ratio did not drop (average doc
    * length did not grow), re-quantizing its inserts at the current
    * ratio and advancing the vintage ([[ImpNdProp]]/[[ImpTlProp]]);
    * only a ratio DROP (longer average docs) disarms until rebuild —
    * [[probeTopN]] then falls back to the full probe. */
  val ImpProp = "graft.text.imp"
  /** The HIGHEST (nd, tl) vintage any armed impact was quantized at —
    * the floor the current ratio is compared against. */
  val ImpNdProp = "graft.text.imp_nd"
  val ImpTlProp = "graft.text.imp_tl"
  /** SHARD COUNT AS A BUILD PROPERTY (round-12 verdict #2): the fixed 16
    * made refresh write-amplification O(corpus) — any realistic delta
    * touches terms hashing into all 16 buckets, so every refresh rewrote
    * the whole postings store. The count is now chosen AT BUILD (explicit
    * arg, or derived from corpus tokens — [[defaultShards]]), persisted
    * here, and resolved by every probe/refresh from the props (absent =
    * legacy 16). With shards ∝ corpus, a delta's touched-shard fraction —
    * and therefore refresh bytes — tracks the DELTA, not the corpus. */
  val ShardsProp = "graft.text.shards"
  /** ANALYZER properties (round-12 verdict #6): stopword list (comma-
    * joined at rest — build REFUSES comma-containing stopwords, which
    * would silently re-split into different words at refresh) and minimum
    * token length, resolved IDENTICALLY at build and refresh so the index
    * is self-describing; probes pick terms from the dictionary, which by
    * construction only holds analyzer-surviving terms. */
  val StopProp = "graft.text.stopwords"
  val MinLenProp = "graft.text.minlen"
  /** "1" when postings carry per-(doc,term) token POSITIONS (round-12
    * verdict #4) — the csv `pos` slot phrase/proximity queries read.
    * Positions index the RAW token stream (analyzer drops leave gaps, the
    * Lucene convention), so adjacency means textual adjacency. */
  val PosProp = "graft.text.positions"
  /** "1" when postings carry a per-doc integer ATTRIBUTE slot (round-13
    * verdict #2 — the AnnIndex attrCol pattern, sparse edition): the
    * metadata column real retrieval filters on ("top-k matching docs
    * WHERE source/date/lang = x"), denormalized per posting exactly like
    * `dl`, so a filtered probe evaluates its predicate INDEX-RESIDENT —
    * candidates drop before scoring, the corpus never joins. Refresh
    * reads the attribute from the corpus store's amt_cents slot (the
    * CDF rows carry it), so maintenance stays delta-bounded. */
  val AttrProp = "graft.text.attr"

  /** Resolved per-index configuration — ONE props read per operation. */
  private[graft] case class TextConf(shards: Int, stop: Seq[String],
                                     minLen: Int, positions: Boolean,
                                     attr: Boolean = false)

  private def confOf(ps: Map[String, String]): TextConf = TextConf(
    ps.get(ShardsProp).map(_.toInt).getOrElse(16),
    ps.get(StopProp).map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil),
    ps.get(MinLenProp).map(_.toInt).getOrElse(1),
    ps.get(PosProp).contains("1"),
    ps.get(AttrProp).contains("1"))

  private def confAt(genRoot: String): TextConf = {
    val tmRoot = new Path(tm(genRoot))
    confOf(StoreSink.readProps(tmRoot, StoreSink.fs(tmRoot)).toMap)
  }

  /** Default shard count from corpus size: ~1M postings per shard, power
    * of two, floor 16 (the legacy count — test corpora stay there), cap
    * 4096 (beyond that individual shards are still only ~25M rows and
    * the file-count budget dominates). */
  private[graft] def defaultShards(tl: Long): Int = {
    var s = 16
    while (s < 4096 && tl / s > (1L << 20)) s *= 2
    s
  }

  /** Test observability: (files planned, candidate files) of the last
    * [[probeTopN]] — pins that impact bounds actually skip files. */
  @volatile private[graft] var lastTopNFiles: Option[(Int, Int)] = None

  /** Phase-1 budget charge for a file with an UNKNOWN live count (rows <
    * 0 — dv-attached entries): counting such files as zero let phase 1
    * open unboundedly many of them (advice catch — rank-safety is
    * unaffected, this is purely the θ-establishment cost bound). A
    * nominal per-file estimate keeps the budget monotone. */
  private val UnknownRowsEstimate = 4096L

  private def budgetRows(rows: Long): Long =
    if (rows < 0) UnknownRowsEstimate else rows

  private def pl(genRoot: String) = s"$genRoot/postings"
  private def tm(genRoot: String) = s"$genRoot/terms"

  def postingsPath(indexPath: String): String = pl(IndexGen.dir(indexPath))
  def termsPath(indexPath: String): String = tm(IndexGen.dir(indexPath))

  /** The term's shard — hash-based, writer and probe evaluate the SAME
    * Spark expression (never re-implemented driver-side). */
  private def shardCol(t: org.apache.spark.sql.Column, nShards: Int) =
    concat(lit("b"), pmod(hash(t), lit(nShards)).cast("string"))

  /** q_bm25's tokenizer — split-on-space of trimmed lowercase — plus the
    * index's analyzer (stopwords / min length) applied AFTER positions
    * are assigned, so dropped tokens leave position gaps. */
  private def tokensOf(docs: DataFrame, conf: TextConf): DataFrame = {
    val raw = docs.select(col("doc_id"),
      posexplode(split(trim(lower(col("text"))), " ")).as(Seq("p0", "t")))
    val lenOk = if (conf.minLen > 1) raw.where(length(col("t")) >= conf.minLen)
                else raw
    val kept = if (conf.stop.nonEmpty) lenOk.where(!col("t").isin(conf.stop: _*))
               else lenOk
    kept.select(col("doc_id"), col("t"), (col("p0") + 1).as("pos"))
  }

  /** (tf, dlen) of a document set — the index's row ingredients; tf
    * carries the sorted position csv when the index stores positions. */
  private def tfOf(docs: DataFrame, conf: TextConf): (DataFrame, DataFrame) = {
    val tok = tokensOf(docs, conf)
    val tf =
      if (conf.positions)
        tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"),
          expr("array_join(transform(array_sort(collect_list(pos)), x -> cast(x as string)), ',')")
            .as("pos"))
      else tok.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
    (tf, tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl")))
  }

  /** Build the index from (doc_id, text) rows; stage-then-swap publish.
    * Returns (n_terms, n_postings). `shards` = 0 derives the count from
    * corpus tokens ([[defaultShards]]); `stopwords`/`minLen` configure the
    * analyzer; `positions` stores per-posting token positions for phrase
    * queries — all four persist as index properties, so probes and
    * refresh resolve the index's OWN configuration, never a default. */
  def build(s: SparkSession, docs: DataFrame, indexPath: String,
            corpusRef: Option[(String, Int)] = None, shards: Int = 0,
            stopwords: Seq[String] = Nil, minLen: Int = 1,
            positions: Boolean = false,
            attr: Boolean = false): (Long, Long) = {
    // the list round-trips through a comma-joined property: a stopword
    // containing a comma would PARSE BACK as two different words at
    // refresh — silent build/refresh drift; refuse loudly (review catch)
    require(stopwords.forall(w => w.nonEmpty && !w.contains(",")),
      s"stopwords must be non-empty and comma-free: $stopwords")
    require(!attr || docs.columns.contains("attr"),
      "attr builds take docs carrying an integer 'attr' column")
    val gen = IndexGen.next(indexPath)
    val genRoot = s"$indexPath/$gen"
    val plRoot = new Path(pl(genRoot))
    val tmRoot = new Path(tm(genRoot))
    val fsys = StoreSink.fs(plRoot)
    val conf0 = TextConf(shards, stopwords, minLen, positions, attr)
    StoreSink.writeExtras(plRoot, fsys, StoreSink.extrasOf(
      Seq(StructField("term", StringType), StructField("dl", LongType),
          StructField("imp", LongType)) ++
      (if (positions) Seq(StructField("pos", StringType)) else Nil) ++
      (if (attr) Seq(StructField("attr", LongType)) else Nil)))
    StoreSink.writeExtras(tmRoot, fsys, StoreSink.extrasOf(Seq(
      StructField("term", StringType))))
    // the manifest records per-file imp min/max (generalized zone stats):
    // that IS the per-file max-impact the top-k probe prunes on
    StoreSink.setProp(pl(genRoot), StoreSink.StatColsProp, "imp")
    val (tf, dlen) = tfOf(docs, conf0)
    val tfd0 = tf.join(dlen, "doc_id")
    // the filterable attribute denormalizes per posting like dl — a
    // build-time equi-join, never paid at probe time
    val tfd = (if (attr)
        tfd0.join(docs.select(col("doc_id"),
          col("attr").cast("long").as("attr")), "doc_id")
      else tfd0).localCheckpoint() // one tokenize pass
    // corpus stats resolve BEFORE the postings write: the quantized
    // impact bakes build-time nd/tl in (the WAND-style static score bound).
    // Derived from the CHECKPOINTED tfd, not the raw dlen lineage — the
    // latter re-tokenized the whole corpus for one (count, sum) pair
    // (measured ~0.4 s of the sf0.1 build); tfd carries dl per posting, so
    // one doc-level first(dl) fold over the materialized rows is the same
    // exact pair (tfd's doc set == dlen's: dlen derives from tf and the
    // join is on that very key).
    val st = tfd.groupBy(col("doc_id")).agg(first(col("dl")).as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .collect()(0)
    val (nd, tl) = (st.getLong(0), math.max(st.getLong(1), 1L))
    // shard count fixes HERE — explicit, or scaled to the corpus so the
    // refresh replace-set granularity tracks data size
    val nShards = if (shards > 0) shards else defaultShards(tl)
    // IMPACT-ORDERED postings (round-12 verdict #4): `imp` = the e4-
    // quantized tf/dl part of the Okapi kernel (idf excluded — term-
    // independent), and the write RANGE-CLUSTERS on (shard, imp) so each
    // shard's files hold contiguous impact bands — per-file imp zones
    // then bound what any posting in the file can score, and probeTopN
    // stops opening files that cannot reach the running k-th score.
    val plCols = Seq(col("doc_id").as("k"),
        shardCol(col("t"), nShards).as("grp"),
        col("tf").as("amt_cents"), col("t").as("term"), col("dl"),
        expr(s"""cast(round(1e4 * (tf * (1.2 + 1.0))
                |  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * $nd / cast(${tl}L as double))))
                |as bigint)""".stripMargin).as("imp")) ++
      (if (positions) Seq(col("pos")) else Nil) ++
      (if (attr) Seq(col("attr")) else Nil)
    // the two table commits are INDEPENDENT (both read the checkpointed
    // tfd, different roots, props write comes after both) — overlap them
    // so the terms aggregate's tasks back-fill the postings write's tail
    // (§2.6; r15 — they used to run strictly sequentially, ~1 s of the
    // sf0.1 build spent as two serial commits)
    StoreSink.inParallel {
      tfd.select(plCols: _*)
        .write.format(Fmt).mode("append").option("path", pl(genRoot))
        .option("partitionedBy", "identity:grp")
        // ordered distribution: the planner range-partitions on (shard,
        // imp) so each shard's files are contiguous impact bands — a
        // repartition here would be overridden by the write's required
        // clustering (observed: everything re-collapsed to 1 file/shard)
        .option("orderedBy", "imp")
        .option("writeTasks", math.max(64, 4 * nShards).toString).save()
    } {
      tfd.groupBy(col("t")).agg(count(lit(1)).as("df"))
        .select(xxhash64(col("t")).as("k"), shardCol(col("t"), nShards).as("grp"),
          col("df").as("amt_cents"), col("t").as("term"))
        .write.format(Fmt).mode("append").option("path", tm(genRoot))
        .option("partitionedBy", "identity:grp").save()
    }
    StoreSink.withCommitLock(tmRoot, fsys) {
      val ps = StoreSink.readProps(tmRoot, fsys).toMap ++
        Map(NdProp -> st.getLong(0).toString, TlProp -> st.getLong(1).toString,
            ImpProp -> "1", ImpNdProp -> st.getLong(0).toString,
            ImpTlProp -> st.getLong(1).toString,
            ShardsProp -> nShards.toString) ++
        (if (stopwords.nonEmpty) Map(StopProp -> stopwords.mkString(","))
         else Map.empty) ++
        (if (minLen > 1) Map(MinLenProp -> minLen.toString) else Map.empty) ++
        (if (positions) Map(PosProp -> "1") else Map.empty) ++
        (if (attr) Map(AttrProp -> "1") else Map.empty) ++
        corpusRef.map(r => CorpusProp -> r._1) ++
        corpusRef.map(r => VersionProp -> r._2.toString)
      StoreSink.writeProps(tmRoot, fsys, ps.toSeq)
    }
    val nTm = StoreSink.readEntries(tmRoot, fsys).map(_.rows).sum
    val nPl = StoreSink.readEntries(plRoot, fsys).map(_.rows).sum
    AnnIndex.onBeforeIndexPublish() // shared stage/publish-window hook
    IndexGen.publish(indexPath, gen)
    (nTm, nPl)
  }

  /** Build from a corpus STORE (k = doc_id, trailing `text`), recording
    * provenance so [[refresh]] can fold its change feed. */
  def buildFromStore(s: SparkSession, corpusPath: String,
                     indexPath: String, shards: Int = 0,
                     attr: Boolean = false): (Long, Long) = {
    val vs = StoreSink.listVersions(new Path(corpusPath),
      StoreSink.fs(new Path(corpusPath)))
    // pinned at the recorded version — the rebuildIf race, same fix;
    // `attr` reads the filterable attribute from the store's amt slot
    build(s, corpusReadAt(s, corpusPath, vs, attr), indexPath,
      Some((corpusPath, vs.lastOption.getOrElse(0))), shards = shards,
      attr = attr)
  }

  /** Corpus stats (nd, tl) from the terms store's props — exact integers,
    * resolved once per probe and baked into the scoring expression as
    * literals (the oracle's cross-joined stats row, collapsed). */
  def stats(indexPath: String): (Long, Long) = statsAt(IndexGen.dir(indexPath))

  private def statsAt(genRoot: String): (Long, Long) = {
    val tmRoot = new Path(tm(genRoot))
    val ps = StoreSink.readProps(tmRoot, StoreSink.fs(tmRoot)).toMap
    (ps(NdProp).toLong, ps(TlProp).toLong)
  }

  /** The dictionary as (t, df). */
  def terms(s: SparkSession, indexPath: String): DataFrame =
    termsAt(s, IndexGen.dir(indexPath))

  private def termsAt(s: SparkSession, genRoot: String): DataFrame =
    s.read.format(Fmt).option("path", tm(genRoot)).load()
      .select(col("term").as("t"), col("amt_cents").as("df"))

  /** Score a (t, df) query-term list against the PERSISTED postings —
    * q_bm25's kernel with index-resident tf/dl and literal (nd, tl). The
    * term list is query-sized: its shard set (≤ |terms|) prunes postings
    * partition planning, the inverted-list lookup. */
  def score(s: SparkSession, indexPath: String, qterms: DataFrame): DataFrame =
    scoreAt(s, IndexGen.dir(indexPath), qterms)

  private def scoreAt(s: SparkSession, genRoot: String,
                      qterms: DataFrame): DataFrame = {
    // ONE props read: stats and the shard count from the same snapshot
    val tmR = new Path(tm(genRoot))
    val props = StoreSink.readProps(tmR, StoreSink.fs(tmR)).toMap
    val (nd, tl) = (props(NdProp).toLong, props(TlProp).toLong)
    val conf = confOf(props) // the index's OWN shard count
    // ONE query-sized job: terms, df, and the shard (computed by the
    // WRITER'S OWN expression, never a driver re-implementation) collect
    // together; the broadcast side below is a local relation of the same
    // rows. The previous localCheckpoint + two collects were three
    // sequential jobs for the same |query terms| rows (r14 optimization).
    // The term list also becomes an IN filter, so it is capped.
    val qrows = Local(qterms
      .select(col("t"), col("df").cast("long").as("df"),
              shardCol(col("t"), conf.shards).as("b")), 1024)
    val shards = qrows.rows.map(_.getString(2)).distinct
    lastScoreShards = Some((shards.size, conf.shards))
    val termList = qrows.rows.map(_.getString(0))
    val q = qrows.toDF(s).select(col("t"), col("df"))
    s.read.format(Fmt).option("path", pl(genRoot)).load()
      .where(col("grp").isin(shards: _*)) // partition pruning = list lookup
      .where(col("term").isin(termList: _*))
      .select(col("k").as("doc_id"), col("term").as("t"),
              col("amt_cents").as("tf"), col("dl"))
      .join(broadcast(q), "t")
      .select(col("doc_id"), expr(
        s"""cast(round(1e4 * ln(1.0 + ($nd - df + 0.5) / (df + 0.5))
           |  * (tf * (1.2 + 1.0))
           |  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * $nd / cast(${tl}L as double))))
           |as bigint)""".stripMargin).as("sc"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("sc")).as("bm25_e4"))
  }

  /** The q_bm25 query executed index-resident: top-5 dictionary terms
    * (len ≥ 4, df desc, term) scored over their posting shards. */
  def probeTop(s: SparkSession, indexPath: String, topk: Int = 20): DataFrame = {
    val genRoot = IndexGen.dir(indexPath) // ONE generation end to end
    val qterms = termsAt(s, genRoot).where(length(col("t")) >= 4)
      .orderBy(col("df").desc, col("t")).limit(5)
    scoreAt(s, genRoot, qterms)
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk)
  }

  /** Shards planned by the last scoreAt-based probe, as (planned, total)
    * — the spec's pruning witness. */
  @volatile private[graft] var lastScoreShards: Option[(Int, Int)] = None

  /** BOOLEAN AND (conjunctive) RETRIEVAL: only documents containing
    * EVERY query term rank, scored by summed per-term BM25 — the
    * Lucene BooleanQuery-MUST shape on the persisted artifact. The
    * conjunction is the n_terms gate over the shared scoring kernel:
    * postings of the query's terms join from their shards alone
    * (partition pruning = posting-list lookup), a doc's per-term rows
    * count up, and docs missing ANY term drop before the top-k. A term
    * absent from the DICTIONARY empties the result by the same gate
    * (found < asked ⇒ no doc can reach the required count) — never an
    * error, exactly the empty-postings contract. At 100 TB: cost is the
    * query terms' posting lists, never the corpus; the candidate set is
    * bounded by the RAREST term's df the moment the join executes. */
  def probeAnd(s: SparkSession, indexPath: String, terms: Seq[String],
               topk: Int = 10): DataFrame = {
    val want = terms.distinct
    require(want.nonEmpty && want.size <= 32 && want.forall(_.nonEmpty),
      s"probeAnd takes 1..32 non-empty terms, got $terms")
    val genRoot = IndexGen.dir(indexPath)
    val qterms = termsAt(s, genRoot).where(col("t").isin(want: _*))
    scoreAt(s, genRoot, qterms)
      .where(col("n_terms") === want.size)
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk)
      .select(col("doc_id"), col("bm25_e4"))
  }

  /** INCREMENTAL MAINTENANCE: fold the corpus store's change feed since
    * the indexed version. CDF delete rows carry the dead doc's TEXT, so
    * both sides re-tokenize from the feed alone — the index is never
    * consulted to find what a delete removes. Exact integer deltas:
    * nd ±= docs, tl ±= tokens; postings of changed docs leave/enter their
    * term shards; touched shards' DICTIONARY rows re-derive from the
    * rewritten postings (df = rows per term). Every step is
    * CRASH-IDEMPOTENT: the postings fold anti-joins the same changed-doc
    * set, the dict recompute is derived state, and (nd, tl, version)
    * land in ONE atomic props write LAST — a crash anywhere replays
    * cleanly from the old version. Returns (docs_changed,
    * shards_touched). */
  def refresh(s: SparkSession, indexPath: String): (Long, Long) = {
    val genRoot = IndexGen.dir(indexPath)
    val plRoot = new Path(pl(genRoot))
    val tmRoot = new Path(tm(genRoot))
    val fsys = StoreSink.fs(tmRoot)
    val props = StoreSink.readProps(tmRoot, fsys).toMap
    val corpus = props.getOrElse(CorpusProp, throw new IllegalStateException(
      s"index at $indexPath was not built from a corpus store — nothing to refresh"))
    val fromV = props(VersionProp).toInt
    val headV = StoreSink.listVersions(new Path(corpus),
      StoreSink.fs(new Path(corpus))).lastOption.getOrElse(0)
    if (headV == fromV) return (0L, 0L)
    val conf = confOf(props) // the index's own shards/analyzer/positions
    val feed = StoreSink.changes(s, corpus, fromV, Some(headV))
      .select(Seq(col("op"), col("k").as("doc_id"), col("text")) ++
        // attr-carrying indexes read the attribute from the corpus
        // store's amt slot — CDF rows carry it on both sides
        (if (conf.attr) Seq(col("amt_cents").as("attr")) else Nil): _*)
      .localCheckpoint() // CDF-sized: changed rows only
    val changedDocs = feed.select(col("doc_id")).distinct().localCheckpoint()
    def side(op: String): (DataFrame, DataFrame) =
      tfOf(feed.where(col("op") === op).select(col("doc_id"), col("text")), conf)
    val (delTf, delDl) = side("delete")
    val (insTf, insDl) = side("insert")
    val insRows0 = insTf.join(insDl, "doc_id")
    val insRows = (if (conf.attr)
        insRows0.join(feed.where(col("op") === "insert")
          .select(col("doc_id"), col("attr")).distinct(), "doc_id")
      else insRows0).localCheckpoint()
    // exact stat deltas (one collect over four bounded aggregates)
    val d = delDl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    val i = insDl.agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L))).collect()(0)
    val ndNew = props(NdProp).toLong - d.getLong(0) + i.getLong(0)
    val tlNew = props(TlProp).toLong - d.getLong(1) + i.getLong(1)
    // IMPACT stays ARMED when the corpus nd/tl ratio did not drop below
    // the armed vintage (the tf/dl part is decreasing in dl·nd/tl, so a
    // stored impact quantized at a lower-or-equal ratio keeps bounding
    // from above); inserts then re-quantize at the CURRENT ratio and the
    // vintage advances. A ratio drop (average docs got longer) disarms —
    // probeTopN falls back to the full probe until a rebuild. BigInt:
    // nd·tl products overflow Long at corpus scale.
    val impArmed = props.get(ImpProp).contains("1") && {
      (props.get(ImpNdProp).map(_.toLong), props.get(ImpTlProp).map(_.toLong)) match {
        case (Some(vNd), Some(vTl)) =>
          BigInt(ndNew) * BigInt(vTl) >= BigInt(vNd) * BigInt(tlNew)
        case _ => false // legacy armed index without a vintage: be safe
      }
    }
    // per-term df deltas; union gives the touched-term set
    val dfDelta = delTf.groupBy(col("t")).agg(count(lit(1)).as("ddel"))
      .join(insTf.groupBy(col("t")).agg(count(lit(1)).as("dins")), Seq("t"), "full")
      .na.fill(0L, Seq("ddel", "dins"))
      .localCheckpoint() // changed-vocabulary-sized
    val touched = dfDelta.select(shardCol(col("t"), conf.shards).as("b"))
      .distinct()
      .collect().map(_.getString(0)).toSeq // ≤ conf.shards, ∝ the delta
    def replaceSet(root: Path): String = StoreSink.readEntries(root, fsys)
      .filter(_.part.exists(p => touched.exists(p.endsWith)))
      .map(_.name).mkString(",")
    if (touched.nonEmpty) {
      // DISARM FOR THE TORN WINDOW: the postings rewrite and the stats
      // props write are two atomic steps — a probe landing between them
      // would score with the OLD (nd, tl) against files whose imp stats
      // were quantized at the NEW ratio (strictly smaller), an
      // under-bound that can silently prune a true top-k file (second
      // review catch). The final props write re-arms; a crash inside
      // the window leaves the index safely disarmed until rebuild.
      if (props.contains(ImpProp))
        StoreSink.withCommitLock(tmRoot, fsys) {
          val ps = StoreSink.readProps(tmRoot, fsys).toMap
          StoreSink.writeProps(tmRoot, fsys, (ps - ImpProp).toSeq)
        }
      // postings: surviving rows of touched shards (anti-join on changed
      // docs — never a literal IN over data-sized keys) + fresh rows
      // fresh rows re-quantize at the CURRENT ratio while armed (the
      // vintage advances with them); disarmed refreshes write NULL imp —
      // the bound is dead then anyway. Legacy indexes without the imp
      // slot project it as null.
      val insImp =
        if (impArmed)
          expr(s"""cast(round(1e4 * (tf * (1.2 + 1.0))
                  |  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * $ndNew / cast(${math.max(tlNew, 1L)}L as double))))
                  |as bigint)""".stripMargin)
        else lit(null).cast("long")
      val plDf = s.read.format(Fmt).option("path", pl(genRoot)).load()
      val surviving0 = plDf
        .where(col("grp").isin(touched: _*))
        .join(changedDocs.withColumnRenamed("doc_id", "k"), Seq("k"), "left_anti")
      val posCols = // positional indexes carry the pos slot through
        (if (conf.positions) Seq(col("pos")) else Nil) ++
          (if (conf.attr) Seq(col("attr")) else Nil)
      val surviving =
        if (plDf.columns.contains("imp"))
          surviving0.select(Seq(col("k"), col("grp"), col("amt_cents"),
            col("term"), col("dl"), col("imp")) ++ posCols: _*)
        else surviving0.select(Seq(col("k"), col("grp"), col("amt_cents"),
          col("term"), col("dl"), lit(null).cast("long").as("imp")) ++
          posCols: _*)
      val plWrite = surviving
        .unionByName(insRows.select(Seq(col("doc_id").as("k"),
          shardCol(col("t"), conf.shards).as("grp"), col("tf").as("amt_cents"),
          col("t").as("term"), col("dl"),
          insImp.as("imp")) ++ posCols: _*))
        .write.format(Fmt).mode("append").option("path", pl(genRoot))
        .option("replace", replaceSet(plRoot))
        .option("preserveMarkers", "true")
      // an ARMED refresh preserves the impact BANDING of the touched
      // shards (the clustered default would consolidate each shard into
      // one file and the per-file bound could no longer discriminate);
      // disarmed rewrites take the plain path — pruning is off anyway
      (if (impArmed)
         plWrite.option("orderedBy", "imp")
           // task count scales with the TOUCHED set (4 impact bands per
           // touched shard, the build's banding density), never the full
           // shard count — a 4096-shard index taking a 2-shard delta must
           // not schedule 4096 near-empty ordered tasks (review catch)
           .option("writeTasks",
             math.max(16, math.min(conf.shards, 4 * touched.size)).toString)
       else plWrite).save()
      // dictionary rows for the touched shards DERIVED from the
      // just-rewritten postings (df = posting rows per term — (doc, term)
      // rows are unique by construction): a REPLAYED refresh recomputes
      // the identical rows, which delta arithmetic applied to an
      // already-adjusted dictionary would not — this is what makes a
      // crash between the dict commit and the version bump recoverable
      // by simply running refresh again
      s.read.format(Fmt).option("path", pl(genRoot)).load()
        .where(col("grp").isin(touched: _*))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .select(xxhash64(col("term")).as("k"),
          shardCol(col("term"), conf.shards).as("grp"),
          col("df").as("amt_cents"), col("term"))
        .write.format(Fmt).mode("append").option("path", tm(genRoot))
        .option("replace", replaceSet(tmRoot))
        .option("preserveMarkers", "true").save()
    }
    StoreSink.withCommitLock(tmRoot, fsys) {
      val ps = StoreSink.readProps(tmRoot, fsys).toMap
      val impPs =
        if (impArmed) Map(ImpProp -> "1", ImpNdProp -> ndNew.toString,
                          ImpTlProp -> tlNew.toString)
        else Map.empty[String, String]
      StoreSink.writeProps(tmRoot, fsys, ((ps - ImpProp) ++ Map(
        NdProp -> ndNew.toString, TlProp -> tlNew.toString,
        VersionProp -> headV.toString) ++ impPs).toSeq)
    }
    (changedDocs.count(), touched.size.toLong)
  }

  /** SINGLE-TERM TOP-K with impact-bound EARLY TERMINATION (round-12
    * verdict #4 — the WAND/MaxScore shape on the persisted artifact): the
    * probed term is the dictionary's highest-df scorable term; phase 1
    * scores only the shard's TOP impact-band file to establish the
    * running k-th score θ, then every candidate file whose manifest imp
    * zone cannot produce a score ≥ θ is never opened — rank-safe because
    * a skipped file's postings all score strictly below θ (quantization
    * slack is added to the bound, and UB == θ files stay planned so ties
    * still break by doc_id). At 100 TB interactive top-k over a high-df
    * term reads the top impact bands, not the term's full posting list.
    * Falls back to the full probe when impact is disarmed (post-refresh)
    * or phase 1 cannot establish θ. */
  def probeTopN(s: SparkSession, indexPath: String, topk: Int = 10,
                attrEq: Option[Long] = None): DataFrame = {
    val genRoot = IndexGen.dir(indexPath)
    val tmRoot = new Path(tm(genRoot))
    val fsys = StoreSink.fs(tmRoot)
    // READ ORDER IS LOAD-BEARING: the postings MANIFEST resolves BEFORE
    // the stats/armed props. An armed refresh completing in between then
    // leaves us with OLD entries + NEW props — imp stats quantized at a
    // LOWER-or-equal vintage ratio than the props' nd/tl, which can only
    // OVER-bound (rank-safe). The props-then-entries order had the torn
    // window the other way: old nd/tl + armed + new-ratio imp stats was
    // an under-bound that could silently prune a true top-k file
    // (advice catch — the refresh-side disarm only covers probes whose
    // props read lands inside the rewrite window itself).
    val plRoot = new Path(pl(genRoot))
    val allEntries = StoreSink.readEntries(plRoot, fsys)
    // ONE props read after the entries: nd/tl, the armed flag, and the
    // conf must come from the SAME snapshot — three separate reads were
    // their own torn surface (a refresh landing between them could pair
    // old stats with a new armed flag — review catch)
    val props = StoreSink.readProps(tmRoot, fsys).toMap
    val (nd, tl) = (props(NdProp).toLong, props(TlProp).toLong)
    val impValid = props.get(ImpProp).contains("1")
    val conf = confOf(props)
    val qt0 = termsAt(s, genRoot).where(length(col("t")) >= 4)
      .orderBy(col("df").desc, col("t")).limit(1)
      .select(col("t"), col("df"), shardCol(col("t"), conf.shards).as("b"))
      .collect().headOption
    if (qt0.isEmpty) { // no scorable term: empty result, like probeTop
      lastTopNFiles = Some((0, 0))
      import s.implicits._
      return Seq.empty[(Long, Long)].toDF("doc_id", "bm25_e4")
    }
    val qt = qt0.get
    val (term, df, shard) = (qt.getString(0), qt.getLong(1), qt.getString(2))
    val idf = math.log(1.0 + (nd - df + 0.5) / (df + 0.5))
    val entries = allEntries
      .filter(e => e.rows != 0 && e.part.exists(_.endsWith(shard)))
    // per-file score bound from the manifest's imp zone: stored imp
    // carries ±0.5 quantization slack, idf scaling another rounding —
    // both absorbed into the ceiling so the bound only ever over-admits
    def ub(e: StoreSink.StoreFileEntry): Long =
      if (!impValid) Long.MaxValue
      else e.stats.find(_._1 == "imp").map { case (_, _, mx) =>
        math.ceil(idf * (mx + 0.5)).toLong + 1L
      }.getOrElse(Long.MaxValue)
    require(attrEq.isEmpty || conf.attr,
      s"index at $indexPath has no attribute slot ($AttrProp) — " +
        "filtered probes need an attr build")
    def scoreFiles(fs: Seq[StoreSink.StoreFileEntry]): DataFrame = {
      val base = s.read.format(Fmt).option("path", pl(genRoot))
        .option("files", fs.map(_.token).mkString(","))
        .load()
        .where(col("term") === term)
      // FILTERED SEARCH: the attribute equality evaluates INDEX-RESIDENT
      // (the attr slot persisted per posting) — candidates drop BEFORE
      // scoring. Rank-safety of the pruning is untouched: the filter
      // only removes candidates, per-file UBs stay unfiltered (only ever
      // over-admit), and θ from filtered phase-1 under-estimates the
      // filtered k-th score — pruning less, never wrongly.
      attrEq.fold(base)(v => base.where(col("attr") === v))
        .select(col("k").as("doc_id"), expr(
          s"""cast(round(1e4 * ln(1.0 + ($nd - $df + 0.5) / ($df + 0.5))
             |  * (amt_cents * (1.2 + 1.0))
             |  / (amt_cents + 1.2 * (1.0 - 0.75 + 0.75 * dl * $nd / cast(${tl}L as double))))
             |as bigint)""".stripMargin).as("bm25_e4"))
    }
    val ordered = entries.sortBy(e => (-ub(e), e.name))
    // phase 1 opens the top impact bands until they plausibly hold k
    // postings OF THE PROBED TERM (files mix the shard's whole
    // vocabulary, so cover ~50× topk rows) — a thin top band alone
    // rarely establishes θ
    val phase1 = {
      var acc = 0L
      val b = Seq.newBuilder[StoreSink.StoreFileEntry]
      ordered.iterator.takeWhile { e =>
        val go = acc < 50L * topk
        if (go) { b += e; acc += budgetRows(e.rows) }
        go
      }.foreach(_ => ())
      b.result()
    }
    val theta: Option[Long] =
      if (!impValid || phase1.isEmpty) None
      else {
        val top = scoreFiles(phase1)
          .orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk).collect()
        if (top.length >= topk) Some(top.last.getLong(1)) else None
      }
    val kept = theta.fold(ordered)(t => ordered.filter(e => ub(e) >= t))
    lastTopNFiles = Some((kept.size, entries.size))
    scoreFiles(kept).orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk)
  }

  /** Test observability: (files planned, files in the query terms'
    * shards) of the last [[probeOr]] — the multi-term pruning witness. */
  @volatile private[graft] var lastOrFiles: Option[(Int, Int)] = None

  /** DISJUNCTIVE (OR) TOP-K with WAND-style pruning — the full WAND
    * shape (Broder et al.) over the impact-banded postings: docs
    * containing ANY query term rank by summed per-term BM25, and a file
    * F of term t is skipped when `UB_t(F) + Σ_{t'≠t} max_F' UB_t'(F')`
    * cannot reach the running k-th score θ — the classic per-term
    * upper-bound sum. Soundness: any doc whose t-posting lives in a
    * skipped file has every other term's contribution bounded by that
    * term's GLOBAL best-file bound (0 when absent), so its true total is
    * < θ ≤ the true k-th score — it can neither enter the top-k nor win
    * a tie (a doc with true total ≥ θ has every one of its files kept,
    * since each file's UB+residual dominates the doc's total — so true
    * top-k docs are always FULLY scored and ties break by doc_id).
    * θ comes from phase-1 partial totals over each term's top impact
    * bands; partials UNDERSTATE docs, so the k-th partial only ever
    * UNDER-estimates θ — pruning less, never wrongly. Dictionary-absent
    * terms contribute nothing; all absent → empty. Disarmed impact (post
    * ratio-dropping refresh) falls back to the unpruned probe. At 100 TB
    * an interactive multi-term query reads the top impact bands of each
    * term plus whatever survives the bound — never the full posting
    * lists of common terms. */
  def probeOr(s: SparkSession, indexPath: String, terms: Seq[String],
              topk: Int = 10, attrEq: Option[Long] = None): DataFrame = {
    val want = terms.distinct
    require(want.nonEmpty && want.size <= 32 && want.forall(_.nonEmpty),
      s"probeOr takes 1..32 non-empty terms, got $terms")
    val genRoot = IndexGen.dir(indexPath)
    val tmRoot = new Path(tm(genRoot))
    val fsys = StoreSink.fs(tmRoot)
    // entries BEFORE props — the rank-safe torn direction (see probeTopN)
    val plRoot = new Path(pl(genRoot))
    val allEntries = StoreSink.readEntries(plRoot, fsys)
    val props = StoreSink.readProps(tmRoot, fsys).toMap
    val (nd, tl) = (props(NdProp).toLong, props(TlProp).toLong)
    val impValid = props.get(ImpProp).contains("1")
    val conf = confOf(props)
    import s.implicits._
    val qt = termsAt(s, genRoot).where(col("t").isin(want: _*))
      .select(col("t"), col("df"), shardCol(col("t"), conf.shards).as("b"))
      .collect()
    if (qt.isEmpty) {
      lastOrFiles = Some((0, 0))
      return Seq.empty[(Long, Long)].toDF("doc_id", "bm25_e4")
    }
    val found = qt.map(_.getString(0)).toSeq
    val dfOf = qt.map(r => r.getString(0) -> r.getLong(1)).toMap
    val shardOf = qt.map(r => r.getString(0) -> r.getString(2)).toMap
    def idf(t: String): Double = {
      val df = dfOf(t)
      math.log(1.0 + (nd - df + 0.5) / (df + 0.5))
    }
    def ub(t: String, e: StoreSink.StoreFileEntry): Long =
      if (!impValid) Long.MaxValue
      else e.stats.find(_._1 == "imp").map { case (_, _, mx) =>
        math.ceil(idf(t) * (mx + 0.5)).toLong + 1L
      }.getOrElse(Long.MaxValue)
    def satAdd(a: Long, b: Long): Long =
      if (a == Long.MaxValue || b == Long.MaxValue) Long.MaxValue else a + b
    val perTerm: Seq[(String, Seq[StoreSink.StoreFileEntry])] =
      found.map(t => t -> allEntries.filter(e =>
        e.rows != 0 && e.part.exists(_.endsWith(shardOf(t)))))
    val gmax: Map[String, Long] = perTerm.map { case (t, es) =>
      t -> es.map(e => ub(t, e)).foldLeft(0L)(math.max) }.toMap
    val qdf = qt.map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("t", "df")
    require(attrEq.isEmpty || conf.attr,
      s"index at $indexPath has no attribute slot ($AttrProp) — " +
        "filtered probes need an attr build")
    def scoreFiles(fs: Seq[StoreSink.StoreFileEntry]): DataFrame = {
      val base = s.read.format(Fmt).option("path", pl(genRoot))
        .option("files", fs.map(_.token).distinct.mkString(","))
        .load()
        .where(col("term").isin(found: _*))
      // filtered WAND (round-13 verdict #2): the attr equality drops
      // candidates index-resident BEFORE scoring; per-file/per-term UBs
      // stay unfiltered (over-admit only) and filtered phase-1 partials
      // under-estimate the filtered θ — the bound sum stays rank-safe
      // for the filtered ranking.
      attrEq.fold(base)(v => base.where(col("attr") === v))
        .select(col("k").as("doc_id"), col("term").as("t"),
                col("amt_cents").as("tf"), col("dl"))
        .join(broadcast(qdf), "t")
        .select(col("doc_id"), expr(
          s"""cast(round(1e4 * ln(1.0 + ($nd - df + 0.5) / (df + 0.5))
             |  * (tf * (1.2 + 1.0))
             |  / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl * $nd / cast(${tl}L as double))))
             |as bigint)""".stripMargin).as("sc"))
        .groupBy(col("doc_id")).agg(sum(col("sc")).as("bm25_e4"))
    }
    val totalFiles = perTerm.flatMap(_._2).map(_.token).distinct.size
    val phase1: Seq[StoreSink.StoreFileEntry] = perTerm.flatMap {
      case (t, es) =>
        val ordered = es.sortBy(e => (-ub(t, e), e.name))
        var acc = 0L
        val b = Seq.newBuilder[StoreSink.StoreFileEntry]
        ordered.iterator.takeWhile { e =>
          val go = acc < 50L * topk
          if (go) { b += e; acc += budgetRows(e.rows) }
          go
        }.foreach(_ => ())
        b.result()
    }
    val theta: Option[Long] =
      if (!impValid || phase1.isEmpty) None
      else {
        val top = scoreFiles(phase1)
          .orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk).collect()
        if (top.length >= topk) Some(top.last.getLong(1)) else None
      }
    val kept: Seq[StoreSink.StoreFileEntry] = theta match {
      case None => perTerm.flatMap(_._2)
      case Some(th) =>
        perTerm.flatMap { case (t, es) =>
          val residual =
            found.filterNot(_ == t).map(gmax).foldLeft(0L)(satAdd)
          // UB == θ files stay planned so ties still break by doc_id
          es.filter(e => satAdd(ub(t, e), residual) >= th)
        }
    }
    lastOrFiles = Some((kept.map(_.token).distinct.size, totalFiles))
    scoreFiles(kept).orderBy(col("bm25_e4").desc, col("doc_id")).limit(topk)
  }

  /** REBUILD POLICY for the sparse index (round-11's AnnIndex.rebuildIf
    * posture, sparse edition — closing the arming lifecycle): fold any
    * pending corpus changes, then rebuild IFF the impact bound came out
    * DISARMED — a ratio-dropping refresh turned top-k early termination
    * off, and only a full rebuild (re-quantizing every posting at the
    * current nd/tl) can re-arm it. The rebuild REUSES the index's own
    * persisted configuration (shards / analyzer / positions) and corpus
    * provenance, and publishes atomically through the generation
    * pointer. Returns (action, armed_before, postings_after). At 100 TB
    * this is the scheduled job that keeps interactive top-k fast after
    * corpora drift long — a policy tick, not a human watching a flag. */
  def rebuildIf(s: SparkSession, indexPath: String): (String, Long, Long) = {
    val genRoot0 = IndexGen.dir(indexPath)
    val tmRoot0 = new Path(tm(genRoot0))
    val props0 = StoreSink.readProps(tmRoot0, StoreSink.fs(tmRoot0)).toMap
    val armed0 = props0.get(ImpProp).contains("1")
    // an ALREADY-disarmed index skips the fold: the rebuild reads the
    // corpus head anyway, so refreshing first would rewrite delta shards
    // into a generation about to be superseded — all of it dead on
    // arrival (review catch)
    val props =
      if (armed0) {
        refresh(s, indexPath) // fold the feed — a ratio drop disarms here
        val g = IndexGen.dir(indexPath)
        val r = new Path(tm(g))
        StoreSink.readProps(r, StoreSink.fs(r)).toMap
      } else props0
    if (props.get(ImpProp).contains("1")) {
      // keep: report the LIVE posting count from the manifest — an audit
      // row claiming 0 postings for a healthy index misleads monitoring
      // (review catch); cost is one manifest read, no data bytes
      val plR = new Path(pl(IndexGen.dir(indexPath)))
      val n = StoreSink.readEntries(plR, StoreSink.fs(plR))
        .map(e => math.max(e.rows, 0L)).sum
      return ("keep", 1L, n)
    }
    val conf = confOf(props)
    val corpus = props.getOrElse(CorpusProp, throw new IllegalStateException(
      s"index at $indexPath has no corpus provenance — policy needs one"))
    val vs = StoreSink.listVersions(new Path(corpus),
      StoreSink.fs(new Path(corpus)))
    // read PINNED at the listed version: an append racing the rebuild
    // would otherwise get INDEXED (the unpinned read resolves head) but
    // not RECORDED in VersionProp — the next refresh then re-folds it
    // and nd/tl double-count, silently skewing every score (review
    // catch). The shard count RE-DERIVES from the rebuilt corpus
    // (shards = 0): the rebuild is the one moment resharding is free,
    // and pinning the build-time count would erode the shards-∝-corpus
    // contract; analyzer/positions are genuine configuration and carry.
    val (_, nPl) = build(s, corpusReadAt(s, corpus, vs, conf.attr), indexPath,
      Some((corpus, vs.lastOption.getOrElse(0))),
      stopwords = conf.stop, minLen = conf.minLen,
      positions = conf.positions, attr = conf.attr)
    ("rebuild", if (armed0) 1L else 0L, nPl)
  }

  /** The (doc_id, text) view of a corpus store PINNED at its latest
    * listed version — the snapshot the caller is about to record as
    * provenance. Pinning closes the race where a concurrent append gets
    * indexed but not recorded (an uncommitted store has no versions to
    * pin — read as-is, provenance 0). */
  private def corpusReadAt(s: SparkSession, corpus: String,
                           vs: Seq[Int],
                           attr: Boolean = false): DataFrame = {
    val rd = s.read.format(Fmt).option("path", corpus)
    val t = vs.lastOption.fold(rd)(v => rd.option("atVersion", v.toString)).load()
    t.select(Seq(col("k").as("doc_id"), col("text")) ++
      (if (attr) Seq(col("amt_cents").as("attr")) else Nil): _*)
  }

  /** Test observability: shards planned by the last [[probePhrase]] —
    * pins that a phrase probe still prunes to its terms' shards. */
  @volatile private[graft] var lastPhraseShards: Option[Int] = None

  /** PHRASE / PROXIMITY QUERY over POSITIONAL postings (round-12 verdict
    * #4): docs where `t2` textually follows `t1` within `slop` positions
    * (slop = 1 is the exact phrase), with the per-doc occurrence count
    * (distinct qualifying `t1` positions). Index-resident and
    * term-pruned: the two terms' shards are the only planned partitions
    * — positions decode only for rows of the probed terms, so
    * phrase/proximity cost is the two posting lists, never the corpus
    * (the positional-index contract; Lucene's PhraseQuery / sloppy
    * phrase shape). Exact even for t1 == t2 (repeated-word phrases),
    * since positions are distinct by construction. */
  def probePhrase(s: SparkSession, indexPath: String,
                  t1: String, t2: String, slop: Int = 1): DataFrame = {
    val genRoot = IndexGen.dir(indexPath)
    val conf = confAt(genRoot)
    require(conf.positions,
      s"index at $indexPath was built without positions " +
        s"($PosProp) — phrase queries need a positional build")
    // the window test runs in int position space — an unbounded slop
    // would wrap p + slop negative and silently match nothing (review
    // catch); 1e6 positions is far past any document
    require(slop >= 1 && slop <= 1000000, s"slop must be in [1, 1e6]: $slop")
    import s.implicits._
    // shard list via the writer's own expression over the 2-term frame
    val shards = Seq(t1, t2).toDF("t")
      .select(shardCol(col("t"), conf.shards).as("b")).distinct()
      .collect().map(_.getString(0)).toSeq
    lastPhraseShards = Some(shards.size)
    val pl0 = s.read.format(Fmt).option("path", pl(genRoot)).load()
      .where(col("grp").isin(shards: _*)) // partition pruning = list lookup
      .where(col("term").isin(t1, t2))
      .select(col("k").as("doc_id"), col("term"),
        expr("transform(split(pos, ','), x -> cast(x as int))").as("ps"))
    val a = pl0.where(col("term") === t1)
      .select(col("doc_id"), col("ps").as("pa"))
    val b = pl0.where(col("term") === t2)
      .select(col("doc_id"), col("ps").as("pb"))
    // positions per (doc, term) are tiny sorted lists — the HOF pair test
    // is per-candidate-doc work, bounded by tf², never corpus-shaped
    a.join(b, "doc_id")
      .select(col("doc_id"), expr(
        s"""cast(size(filter(pa,
           |  p -> exists(pb, q -> q > p and q <= p + $slop))) as bigint)"""
          .stripMargin).as("n_occ"))
      .where(col("n_occ") > 0)
  }

  /** SNIPPET GENERATION — the display half of retrieval (the Lucene
    * highlighter shape): for the top-n docs of `term` (tf desc, doc_id),
    * the FIRST match position comes from the POSITIONAL postings (the
    * csv is sorted, so its head is the min — no list decode), and a
    * ±width raw-token window hydrates from the caller's (doc_id, text)
    * frame. The index answers WHERE; the corpus supplies bytes only for
    * the n docs being displayed — at 100 TB highlighting costs one
    * term-shard read plus n point lookups, never a corpus scan. Windows
    * clamp at both document edges (mirrored exactly by the oracle's
    * end-inclusive list_slice). */
  def snippet(s: SparkSession, indexPath: String, term: String,
              docs: DataFrame, topn: Int = 3, width: Int = 2): DataFrame = {
    val genRoot = IndexGen.dir(indexPath)
    val conf = confAt(genRoot)
    require(conf.positions,
      s"index at $indexPath was built without positions " +
        s"($PosProp) — snippets need a positional build")
    require(topn >= 1 && topn <= 1000 && width >= 0 && width <= 1000,
      s"snippet takes topn in [1,1000] and width in [0,1000]: $topn/$width")
    import s.implicits._
    val shard = Seq(term).toDF("t")
      .select(shardCol(col("t"), conf.shards).as("b"))
      .collect()(0).getString(0)
    val hits = s.read.format(Fmt).option("path", pl(genRoot)).load()
      .where(col("grp") === shard) // partition pruning = list lookup
      .where(col("term") === term)
      .select(col("k").as("doc_id"), col("amt_cents").as("tf"),
              expr("cast(split_part(pos, ',', 1) as bigint)").as("p"))
      .orderBy(col("tf").desc, col("doc_id")).limit(topn)
    // stored positions are 1-BASED (tokensOf assigns p0 + 1), so the
    // window is [p - width, p + width] clamped to [1, n] directly
    hits.join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("tf"), col("p"), expr(
        s"""array_join(slice(split(trim(lower(text)), ' '),
           |  cast(greatest(p - $width, 1) as int),
           |  cast(least(p + $width, size(split(trim(lower(text)), ' ')))
           |    - greatest(p - $width, 1) + 1 as int)), ' ')"""
          .stripMargin).as("snip"))
  }

  /** Test observability: shards planned by the last [[snippetMulti]]. */
  @volatile private[graft] var lastSnippetShards: Option[Int] = None

  /** MULTI-TERM SNIPPET (round-13 verdict #6 — what real highlighters
    * do with the query's whole term set): for the topn docs ranked by
    * summed tf over the matched terms, each term contributes its FIRST
    * position, and overlapping/adjacent ±width windows MERGE into
    * islands (the Lucene highlighter's passage merge) — so two query
    * terms three tokens apart yield ONE seamless snippet, not two
    * overlapping fragments. Island detection is the classic
    * gaps-and-islands window chain (a new island opens when a window
    * cannot touch its predecessor — equal widths make the lag test
    * exact), replayed identically by the oracle. Index-resident and
    * term-pruned like [[snippet]]: the terms' shards are the only
    * planned partitions, text hydrates for topn docs only. Returns
    * (doc_id, tot_tf, isl, n_pts, snip). */
  def snippetMulti(s: SparkSession, indexPath: String, terms: Seq[String],
                   docs: DataFrame, topn: Int = 3,
                   width: Int = 2): DataFrame = {
    val want = terms.distinct
    require(want.nonEmpty && want.size <= 32 && want.forall(_.nonEmpty),
      s"snippetMulti takes 1..32 non-empty terms, got $terms")
    require(topn >= 1 && topn <= 1000 && width >= 0 && width <= 1000,
      s"snippetMulti takes topn in [1,1000] and width in [0,1000]: $topn/$width")
    val genRoot = IndexGen.dir(indexPath)
    val conf = confAt(genRoot)
    require(conf.positions,
      s"index at $indexPath was built without positions " +
        s"($PosProp) — snippets need a positional build")
    import s.implicits._
    val shards = want.toDF("t")
      .select(shardCol(col("t"), conf.shards).as("b")).distinct()
      .collect().map(_.getString(0)).toSeq
    lastSnippetShards = Some(shards.size)
    val hits = s.read.format(Fmt).option("path", pl(genRoot)).load()
      .where(col("grp").isin(shards: _*)) // partition pruning = list lookup
      .where(col("term").isin(want: _*))
      .select(col("k").as("doc_id"), col("amt_cents").as("tf"),
              expr("cast(split_part(pos, ',', 1) as bigint)").as("p"))
    val top = hits.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("tot_tf"))
      .orderBy(col("tot_tf").desc, col("doc_id")).limit(topn)
      .localCheckpoint() // topn rows
    // one first-position point per (doc, matched term); a raw position
    // holds ONE token, so points are distinct and ordering by p is total
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    val isl = hits.join(broadcast(top.select(col("doc_id"))), "doc_id")
      .withColumn("pp", lag(col("p"), 1).over(wOrd))
      .withColumn("nf", when(col("pp").isNull, 1L)
        .when(col("p") - lit(width) > col("pp") + lit(width) + 1, 1L)
        .otherwise(0L))
      .withColumn("isl", sum(col("nf")).over(
        wOrd.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("p")).as("p0"), max(col("p")).as("p1"),
           count(lit(1)).as("n_pts"))
    isl.join(broadcast(top), "doc_id")
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), col("tot_tf"), col("isl"), col("n_pts"), expr(
        s"""array_join(slice(split(trim(lower(text)), ' '),
           |  cast(greatest(p0 - $width, 1) as int),
           |  cast(least(p1 + $width, size(split(trim(lower(text)), ' ')))
           |    - greatest(p0 - $width, 1) + 1 as int)), ' ')"""
          .stripMargin).as("snip"))
      .orderBy(col("doc_id"), col("isl"))
  }
}
