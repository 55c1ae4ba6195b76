package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted-BM25-index contract (round-11 verdict #4 — the sparse twin
  * of AnnIndexSpec):
  *  - a probe plans ONLY the query terms' posting shards (partition pruning
  *    is the inverted-list lookup);
  *  - refresh folds the corpus CDF by exact integer deltas and equals a
  *    from-scratch rebuild of the head corpus, bit for bit;
  *  - an untouched shard's data files carry over by IDENTITY;
  *  - rebuilds publish through the shared generation pointer (old results
  *    until the swap). */
class TextIndexSpec extends SparkSpec {

  private val fmt = "graft.sources.StoreSink"
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def freshDir(name: String): String = {
    val dir = s"target/tmp/textindex_spec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  /** A corpus whose term sets are knowable: doc 1..4 share "alpha", half
    * carry "bravo", one carries "zulu". */
  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "alpha bravo common words here"),
      (2L, "alpha common words again here"),
      (3L, "alpha bravo more common words"),
      (4L, "alpha zulu rare words here")).toDF("doc_id", "text")
  }

  private def seedCorpusStore(dir: String, d: DataFrame): Unit = {
    val root = new Path(dir)
    StoreSink.writeExtras(root, fs, StoreSink.extrasOf(Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType))))
    d.select(col("doc_id").as("k"), lit("d").as("grp"), lit(0L).as("amt_cents"),
        col("text"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", dir).save()
  }

  private def indexContent(idx: String): (Set[Seq[Any]], Set[Seq[Any]], (Long, Long)) = {
    // SCORING content only: `imp` is the top-k pruning accessory — its
    // quantization bakes build-time (nd, tl), so refresh deliberately
    // leaves it stale/null and disarms the bound (ImpProp) instead of
    // recomputing every shard; equality claims exclude it
    val po = spark.read.format(fmt).option("path", TextIndex.postingsPath(idx))
      .load()
      .select(col("k"), col("grp"), col("amt_cents"), col("term"), col("dl"))
      .collect().map(_.toSeq).toSet
    val tm = spark.read.format(fmt).option("path", TextIndex.termsPath(idx))
      .load().collect().map(_.toSeq).toSet
    (po, tm, TextIndex.stats(idx))
  }

  test("probe plans only the query terms' shards; scoring matches the " +
       "recompute kernel") {
    import spark.implicits._
    val idx = freshDir("probe_idx")
    val (nTm, nPl) = TextIndex.build(spark, docs, idx)
    assert(nTm > 0 && nPl > 0)
    // single-term query: the planned postings files must be exactly the
    // term's shard's files (the scan's plannedFiles counts them post-pruning)
    val one = Seq(("zulu", 1L)).toDF("t", "df")
    val (scored, plans) = withPlans(TextIndex.score(spark, idx, one).collect())
    assert(scored.length == 1 && scored(0).getLong(0) == 4L,
      s"zulu lives in doc 4 only: ${scored.toSeq}")
    val entries = StoreSink.readEntries(
      new Path(TextIndex.postingsPath(idx)), fs)
    val total = entries.size
    val planned = ScanMetrics(plans, TextIndex.postingsPath(idx)).plannedFiles
    assert(planned._2 < planned._1,
      s"single-term probe should plan a shard subset of $total files: $planned")
  }

  test("probeAnd: conjunction gates on every term, dictionary-absent " +
       "terms empty the result, and only the terms' shards plan") {
    val idx = freshDir("and_idx")
    TextIndex.build(spark, docs, idx)
    // alpha ∧ bravo: docs 1 and 3 only (2 and 4 miss bravo)
    val got = TextIndex.probeAnd(spark, idx, Seq("alpha", "bravo"), topk = 10)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L), s"alpha AND bravo must be docs 1,3: $got")
    val (planned, total) = TextIndex.lastScoreShards.get
    assert(planned <= 2 && total >= 16,
      s"two terms must plan at most two of $total shards: $planned")
    // the conjunctive scores are the SUM of both terms' kernel scores —
    // strictly more than either single-term score for the same doc
    val single = TextIndex.probeAnd(spark, idx, Seq("alpha"), topk = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    TextIndex.probeAnd(spark, idx, Seq("alpha", "bravo"), topk = 10)
      .collect().foreach { r =>
        assert(r.getLong(1) > single(r.getLong(0)),
          s"summed conjunctive score must exceed the single-term score: $r")
      }
    // a term the dictionary has never seen empties the conjunction
    assert(TextIndex.probeAnd(spark, idx, Seq("alpha", "quux"), topk = 10)
      .collect().isEmpty)
    // degenerate arguments refuse loudly
    intercept[IllegalArgumentException] {
      TextIndex.probeAnd(spark, idx, Nil)
    }
  }

  test("refresh == full rebuild of the head corpus, bit for bit; " +
       "untouched shards carry files by identity") {
    import spark.implicits._
    val corpus = freshDir("ref_corpus")
    val idx = freshDir("ref_idx")
    val twin = freshDir("ref_twin")
    seedCorpusStore(corpus, docs)
    TextIndex.buildFromStore(spark, corpus, idx)
    val filesBefore = StoreSink.readEntries(
      new Path(TextIndex.postingsPath(idx)), fs)
      .map(e => (e.part.getOrElse("?"), e.name)).toSet
    // CDC: doc 2 retires, doc 5 (fresh vocabulary) arrives
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 2L)))
    Seq((5L, "d", 0L, "yankee words appear here now"))
      .toDF("k", "grp", "amt_cents", "text")
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    val (nDocs, nShards) = TextIndex.refresh(spark, idx)
    assert(nDocs == 2L && nShards >= 1,
      s"one delete + one insert changed 2 docs: ($nDocs, $nShards)")
    // twin: a from-scratch build over the HEAD corpus
    TextIndex.buildFromStore(spark, corpus, twin)
    val (po1, tm1, st1) = indexContent(idx)
    val (po2, tm2, st2) = indexContent(twin)
    assert(st1 == st2, s"stats drifted: $st1 vs $st2")
    assert(tm1 == tm2, "dictionary drifted from the rebuild")
    assert(po1 == po2, "postings drifted from the rebuild")
    // shards untouched by the delta keep their FILES (identity, not just
    // content) — maintenance cost is the touched shards only
    val filesAfter = StoreSink.readEntries(
      new Path(TextIndex.postingsPath(idx)), fs)
      .map(e => (e.part.getOrElse("?"), e.name)).toSet
    val changedTerms = Seq("alpha", "common", "words", "again", "here",
      "yankee", "appear", "now") // doc 2's + doc 5's vocab
    val touchedShards = changedTerms.toDF("t")
      .select(concat(lit("b"), pmod(hash(col("t")), lit(16)).cast("string")))
      .distinct().collect().map(_.getString(0)).toSet
    val untouchedBefore = filesBefore.filterNot { case (p, _) =>
      touchedShards.exists(p.endsWith) }
    assert(untouchedBefore.nonEmpty, "fixture: need at least one untouched shard")
    assert(untouchedBefore.subsetOf(filesAfter),
      "untouched shards must carry their files by identity across refresh")
  }

  test("impact-ordered top-k: skips files the bound excludes, equals the " +
       "full scoring; refresh disarms the bound until rebuild") {
    import spark.implicits._
    val idx = freshDir("topn_idx")
    val corpus = freshDir("topn_corpus")
    // 300 docs, tf of the probe term varies 1..5 and lengths vary — the
    // impact-banded files get discriminating zones
    val big = (1 to 300).map { i =>
      val tf = 1 + i % 5
      val filler = (1 to (3 + i % 7)).map(j => s"w${(i + j) % 40}").mkString(" ")
      (i.toLong, (Seq.fill(tf)("alphaword") :+ filler).mkString(" "))
    }.toDF("doc_id", "text")
    seedCorpusStore(corpus, big)
    TextIndex.buildFromStore(spark, corpus, idx)
    TextIndex.lastTopNFiles = None
    val et = TextIndex.probeTopN(spark, idx, topk = 10).collect()
    val pruned = TextIndex.lastTopNFiles.get
    assert(pruned._1 >= 1 && pruned._1 < pruned._2,
      s"impact bound must skip files: planned ${pruned._1} of ${pruned._2}")
    // rank-safe: equals the full single-term scoring
    val dict = TextIndex.terms(spark, idx)
    val qt = dict.where(length(col("t")) >= 4)
      .orderBy(col("df").desc, col("t")).limit(1)
    val full = TextIndex.score(spark, idx, qt)
      .select(col("doc_id"), col("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10).collect()
    assert(et.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      "early-terminated top-k must equal the full scoring")
    // refresh stage 1: delete a LONGER-than-average doc (doc 34: tf 5 +
    // 9 filler words, avg dl ≈ 9) — the nd/tl ratio RISES, stored
    // impacts remain upper bounds, the vintage advances, and the probe
    // keeps pruning AND keeps equalling the full scoring
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 34L)))
    TextIndex.refresh(spark, idx)
    TextIndex.lastTopNFiles = None
    val armed = TextIndex.probeTopN(spark, idx, topk = 10).collect()
    val mid = TextIndex.lastTopNFiles.get
    assert(mid._1 < mid._2,
      s"a ratio-raising refresh must keep the bound armed: $mid")
    val full2 = TextIndex.score(spark, idx,
        TextIndex.terms(spark, idx).where(length(col("t")) >= 4)
          .orderBy(col("df").desc, col("t")).limit(1))
      .select(col("doc_id"), col("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10).collect()
    assert(armed.map(_.toSeq).toSeq == full2.map(_.toSeq).toSeq,
      "armed post-refresh top-k must still equal the full scoring")
    // refresh stage 2: delete a SHORTER-than-average doc (doc 7: tf 3 +
    // 3 filler) — the ratio drops below the vintage, stale impacts can
    // under-bound, the probe falls back to every candidate file
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 7L)))
    TextIndex.refresh(spark, idx)
    TextIndex.lastTopNFiles = None
    TextIndex.probeTopN(spark, idx, topk = 10).collect()
    val post = TextIndex.lastTopNFiles.get
    assert(post._1 == post._2,
      s"a ratio-dropping refresh must disarm the bound: $post")
  }

  test("probeOr (WAND): prunes on the per-term bound plus the other " +
       "terms' residuals, equals the full OR scoring, absent terms drop") {
    import spark.implicits._
    val idx = freshDir("or_idx")
    // alphaword's tf varies 1..5 (discriminating impact bands); betaword
    // is constant tf 1 in every doc (df = 300 → tiny idf, so the OTHER-
    // term residual stays small and the alpha bands can actually prune)
    val big = (1 to 300).map { i =>
      val tf = 1 + i % 5
      val filler = (1 to (3 + i % 7)).map(j => s"w${(i + j) % 40}").mkString(" ")
      (i.toLong,
        (Seq.fill(tf)("alphaword") ++ Seq("betaword", filler)).mkString(" "))
    }.toDF("doc_id", "text")
    TextIndex.build(spark, big, idx)
    TextIndex.lastOrFiles = None
    val got = TextIndex.probeOr(spark, idx,
      Seq("alphaword", "betaword"), topk = 10).collect()
    val (planned, total) = TextIndex.lastOrFiles.get
    assert(planned >= 1 && planned < total,
      s"WAND bound must skip files: planned $planned of $total")
    // rank-safe incl. the partial-score tail: equals the full OR scoring
    val qt = TextIndex.terms(spark, idx)
      .where(col("t").isin("alphaword", "betaword"))
    val full = TextIndex.score(spark, idx, qt)
      .select(col("doc_id"), col("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10).collect()
    assert(got.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      "WAND-pruned OR top-k must equal the full OR scoring")
    // a dictionary-absent term contributes nothing; all absent → empty
    val mixed = TextIndex.probeOr(spark, idx,
      Seq("alphaword", "betaword", "zzznope"), topk = 10).collect()
    assert(mixed.map(_.toSeq).toSeq == got.map(_.toSeq).toSeq,
      "an unknown term must not change the OR ranking")
    assert(TextIndex.probeOr(spark, idx, Seq("zzznope"), topk = 5)
      .collect().isEmpty, "all-unknown terms must return empty")
  }

  test("filtered probes: the attr slot filters index-resident, WAND " +
       "pruning still fires rank-safely, non-attr builds refuse, and " +
       "refresh carries the attribute from the corpus amt slot") {
    import spark.implicits._
    val idx = freshDir("flt_idx")
    // the probeOr fixture + a tenant attribute (doc_id % 2)
    val big = (1 to 300).map { i =>
      val tf = 1 + i % 5
      val filler = (1 to (3 + i % 7)).map(j => s"w${(i + j) % 40}").mkString(" ")
      (i.toLong,
        (Seq.fill(tf)("alphaword") ++ Seq("betaword", filler)).mkString(" "))
    }.toDF("doc_id", "text")
      .withColumn("attr", pmod(col("doc_id"), lit(2)))
    TextIndex.build(spark, big, idx, attr = true)
    TextIndex.lastOrFiles = None
    val got = TextIndex.probeOr(spark, idx, Seq("alphaword", "betaword"),
      topk = 10, attrEq = Some(1L)).collect()
    val (planned, total) = TextIndex.lastOrFiles.get
    assert(planned >= 1 && planned < total,
      s"filtered WAND must still skip files: planned $planned of $total")
    assert(got.length == 10 && got.forall(_.getLong(0) % 2 == 1),
      s"only tenant-1 docs may rank: ${got.toSeq}")
    // == the unpruned filtered scoring (rank-safety under the filter)
    val qt = TextIndex.terms(spark, idx)
      .where(col("t").isin("alphaword", "betaword"))
    val full = TextIndex.score(spark, idx, qt)
      .where(pmod(col("doc_id"), lit(2)) === 1)
      .select(col("doc_id"), col("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id")).limit(10).collect()
    assert(got.map(_.toSeq).toSeq == full.map(_.toSeq).toSeq,
      "filtered WAND top-k must equal the full filtered scoring")
    // the single-term top-k probe filters the same way
    val topn = TextIndex.probeTopN(spark, idx, topk = 5, attrEq = Some(0L))
      .collect()
    assert(topn.length == 5 && topn.forall(_.getLong(0) % 2 == 0),
      s"${topn.toSeq}")
    // an index without the slot refuses loudly (never a silent column miss)
    val plainIdx = freshDir("flt_plain")
    TextIndex.build(spark, big.drop("attr"), plainIdx)
    val e = intercept[IllegalArgumentException] {
      TextIndex.probeOr(spark, plainIdx, Seq("alphaword"), topk = 5,
        attrEq = Some(1L))
    }
    assert(e.getMessage.contains("attr"))
    // refresh: the corpus store carries the attribute in amt_cents; an
    // inserted doc enters the filtered ranking with its attr intact
    val corpus = freshDir("flt_corpus")
    val root = new Path(corpus)
    StoreSink.writeExtras(root, fs, StoreSink.extrasOf(Seq(
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType))))
    big.select(col("doc_id").as("k"), lit("d").as("grp"),
        col("attr").as("amt_cents"), col("text"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    val idx2 = freshDir("flt_idx2")
    TextIndex.buildFromStore(spark, corpus, idx2, attr = true)
    // doc 1001 (tenant 1) arrives stuffed with alphaword — must win
    Seq((1001L, "d", 1L, Seq.fill(9)("alphaword").mkString(" ")))
      .toDF("k", "grp", "amt_cents", "text")
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    val (changed, touched) = TextIndex.refresh(spark, idx2)
    assert(changed == 1 && touched >= 1, s"($changed, $touched)")
    val after = TextIndex.probeOr(spark, idx2, Seq("alphaword"),
      topk = 3, attrEq = Some(1L)).collect()
    assert(after.head.getLong(0) == 1001L,
      s"the refreshed doc must rank with its attribute: ${after.toSeq}")
    assert(TextIndex.probeOr(spark, idx2, Seq("alphaword"),
        topk = 300, attrEq = Some(0L)).collect()
      .forall(_.getLong(0) != 1001L),
      "tenant 0 must never see the tenant-1 doc")
  }

  test("snippetMulti: overlapping term windows merge into one island, " +
       "distant ones stay separate, only the terms' shards plan") {
    import spark.implicits._
    val idx = freshDir("snipmulti_idx")
    // doc 1: foo at p2, bar at p4 → windows [0,4]/[2,6] overlap = ONE
    // island; doc 2: foo at p1, bar at p9 → TWO islands
    val d = Seq(
      (1L, "w1 fooword w3 barword w5 w6 w7 w8 w9 w10"),
      (2L, "fooword w2 w3 w4 w5 w6 w7 w8 barword w10")).toDF("doc_id", "text")
    TextIndex.build(spark, d, idx, positions = true)
    TextIndex.lastSnippetShards = None
    val got = TextIndex.snippetMulti(spark, idx, Seq("fooword", "barword"),
      d, topn = 3, width = 2).collect()
    assert(TextIndex.lastSnippetShards.exists(_ <= 2),
      s"only the terms' shards may plan: ${TextIndex.lastSnippetShards}")
    val byDoc = got.groupBy(_.getLong(0))
    assert(byDoc(1L).length == 1, s"doc 1 windows must merge: ${got.toSeq}")
    assert(byDoc(1L)(0).getString(4) == "w1 fooword w3 barword w5 w6",
      s"${byDoc(1L)(0).getString(4)}")
    assert(byDoc(2L).length == 2, s"doc 2 must keep two islands: ${got.toSeq}")
    assert(byDoc(2L).map(_.getString(4)).toSet ==
      Set("fooword w2 w3", "w7 w8 barword w10"), s"${got.toSeq}")
  }

  test("ordered (impact-banded) writes mark the store: the k-sorted " +
       "per-file ordering claim withdraws") {
    val idx = freshDir("ordmark_idx")
    TextIndex.build(spark, docs, idx)
    val plRoot = new Path(TextIndex.postingsPath(idx))
    // postings files are (shard, imp)-sorted, NOT k-sorted — without the
    // marker, SupportsReportOrdering's per-partition `k ASC` claim could
    // activate over them and a merge join would drop Sorts on unsorted
    // keys (review catch)
    assert(StoreSink.readProps(plRoot, fs).toMap
      .contains(StoreSink.OrderedByProp),
      "orderedBy commits must withdraw the k-sort claim")
  }

  test("shard count is a build property: a 64-shard index refreshes " +
       "delta-proportionally and equals its 64-shard twin rebuild") {
    import spark.implicits._
    val corpus = freshDir("sh64_corpus")
    val idx = freshDir("sh64_idx")
    val twin = freshDir("sh64_twin")
    // 300 docs over a ~45-term vocabulary so most of the 64 shards hold
    // data and a single changed doc touches only its own terms' shards
    val big = (1 to 300).map { i =>
      val words = (0 to 4).map(j => s"term${(i * 7 + j * 3) % 45}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    seedCorpusStore(corpus, big)
    TextIndex.buildFromStore(spark, corpus, idx, shards = 64)
    val plRoot = new Path(TextIndex.postingsPath(idx))
    val tmRoot = new Path(TextIndex.termsPath(idx))
    assert(StoreSink.readProps(tmRoot, fs).toMap
      .get(TextIndex.ShardsProp).contains("64"),
      "the chosen shard count must persist as an index property")
    val shardsUsed = StoreSink.readEntries(plRoot, fs)
      .flatMap(_.part).distinct.size
    assert(shardsUsed > 16, s"a 64-shard build must spread past the " +
      s"legacy 16 partitions: $shardsUsed")
    val filesBefore = StoreSink.readEntries(plRoot, fs)
      .map(e => (e.part.getOrElse("?"), e.name)).toSet
    // CDC: ONE doc changes — its ≤5 distinct terms bound the touched set
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 42L)))
    val (nDocs, nShards) = TextIndex.refresh(spark, idx)
    assert(nDocs == 1L && nShards >= 1L && nShards <= 5L,
      s"refresh write-amplification must track the DELTA (≤5 terms' " +
        s"shards of 64), not the corpus: ($nDocs, $nShards)")
    // untouched shards carry files by identity — the rewrite is bounded
    // by the delta's shard set, the point of the scaled count
    val filesAfter = StoreSink.readEntries(plRoot, fs)
      .map(e => (e.part.getOrElse("?"), e.name)).toSet
    val carried = filesBefore.intersect(filesAfter)
    assert(carried.size >= filesBefore.size - nShards.toInt,
      s"only touched shards may rewrite: ${filesBefore.size} -> " +
        s"${carried.size} carried with $nShards touched")
    // content == a 64-shard twin rebuilt from the head corpus
    TextIndex.buildFromStore(spark, corpus, twin, shards = 64)
    val (po1, tm1, st1) = indexContent(idx)
    val (po2, tm2, st2) = indexContent(twin)
    assert(st1 == st2 && tm1 == tm2 && po1 == po2,
      "64-shard refresh must equal the 64-shard rebuild")
  }

  test("positional postings: phrase probe finds textual adjacency, plans " +
       "only the terms' shards, and survives refresh; non-positional " +
       "indexes refuse") {
    import spark.implicits._
    val corpus = freshDir("pos_corpus")
    val idx = freshDir("pos_idx")
    seedCorpusStore(corpus,
      docs.unionByName(Seq((6L, "echo echo echo")).toDF("doc_id", "text")))
    // buildFromStore has no positions knob on purpose (the SQL procedure
    // stays minimal); build directly with provenance for refresh
    val v = StoreSink.listVersions(new Path(corpus), fs).lastOption.getOrElse(0)
    TextIndex.build(spark,
      spark.read.format(fmt).option("path", corpus).load()
        .select(col("k").as("doc_id"), col("text")),
      idx, corpusRef = Some((corpus, v)), positions = true)
    // adjacency: docs 1 and 3 hold "alpha bravo" adjacent, doc 2 does not
    TextIndex.lastPhraseShards = None
    val hits = TextIndex.probePhrase(spark, idx, "alpha", "bravo")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 1L), (3L, 1L)), s"$hits")
    assert(TextIndex.lastPhraseShards.exists(_ <= 2),
      "a 2-term phrase must plan at most 2 shards")
    // both terms present but never adjacent: no rows
    assert(TextIndex.probePhrase(spark, idx, "common", "here").collect().isEmpty)
    // ...but within slop 2 they match: doc 1 "common words here" (gap 2)
    // and doc 2 "common words again here" stays out until slop 3
    assert(TextIndex.probePhrase(spark, idx, "common", "here", slop = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 1L)))
    assert(TextIndex.probePhrase(spark, idx, "common", "here", slop = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L)))
    // repeated-word phrase: distinct positions make the count exact
    assert(TextIndex.probePhrase(spark, idx, "echo", "echo")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((6L, 2L)))
    // refresh a positional index: the pos slot carries/recomputes
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 1L)))
    Seq((7L, "d", 0L, "alpha bravo alpha bravo"))
      .toDF("k", "grp", "amt_cents", "text")
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    TextIndex.refresh(spark, idx)
    assert(TextIndex.probePhrase(spark, idx, "alpha", "bravo")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((3L, 1L), (7L, 2L)),
      "refresh must fold positions exactly (doc 1 out, doc 7's 2 occurrences in)")
    // a default build has no positions — loud refusal, not empty results
    val plain = freshDir("pos_plain")
    TextIndex.build(spark, docs, plain)
    val e = intercept[IllegalArgumentException] {
      TextIndex.probePhrase(spark, plain, "alpha", "bravo")
    }
    assert(e.getMessage.contains("positions"))
  }

  test("analyzer is a build property: stopwords and min length filter the " +
       "indexed stream, refresh inherits them") {
    import spark.implicits._
    val corpus = freshDir("an_corpus")
    val idx = freshDir("an_idx")
    val twin = freshDir("an_twin")
    seedCorpusStore(corpus, docs)
    val v = StoreSink.listVersions(new Path(corpus), fs).lastOption.getOrElse(0)
    TextIndex.build(spark,
      spark.read.format(fmt).option("path", corpus).load()
        .select(col("k").as("doc_id"), col("text")),
      idx, corpusRef = Some((corpus, v)),
      stopwords = Seq("alpha", "words"), minLen = 5)
    val dict = TextIndex.terms(spark, idx).collect().map(_.getString(0)).toSet
    assert(!dict.contains("alpha") && !dict.contains("words"),
      s"stopwords must not enter the dictionary: $dict")
    assert(dict.forall(_.length >= 5), s"short tokens must drop: $dict")
    // dl/nd/tl reflect the ANALYZED stream: docs 1-3 keep 2 tokens each
    // (bravo/common/again survive); doc 4 keeps NONE (zulu/rare/here are
    // short, the rest stopped) and drops out of nd entirely
    val (nd, tl) = TextIndex.stats(idx)
    assert(nd == 3 && tl == 6, s"analyzed stats: ($nd, $tl)")
    // refresh INHERITS the analyzer: a new doc's stopwords stay out
    Seq((5L, "d", 0L, "alpha bravo alpha words tiny"))
      .toDF("k", "grp", "amt_cents", "text")
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    TextIndex.refresh(spark, idx)
    val dict2 = TextIndex.terms(spark, idx).collect().map(_.getString(0)).toSet
    assert(!dict2.contains("alpha") && !dict2.contains("tiny"),
      s"refresh must tokenize with the INDEX'S analyzer: $dict2")
    // and equals the twin rebuild under the same analyzer
    val v2 = StoreSink.listVersions(new Path(corpus), fs).lastOption.getOrElse(0)
    TextIndex.build(spark,
      spark.read.format(fmt).option("path", corpus).load()
        .select(col("k").as("doc_id"), col("text")),
      twin, corpusRef = Some((corpus, v2)),
      stopwords = Seq("alpha", "words"), minLen = 5)
    val (po1, tm1, st1) = indexContent(idx)
    val (po2, tm2, st2) = indexContent(twin)
    assert(st1 == st2 && tm1 == tm2 && po1 == po2,
      "analyzed refresh must equal the analyzed rebuild")
  }

  test("rebuild publishes through the generation pointer: old probe " +
       "results until the swap") {
    val idx = freshDir("gen_idx")
    TextIndex.build(spark, docs, idx)
    val before = TextIndex.probeTop(spark, idx, topk = 5)
      .collect().map(_.toSeq).toSet
    import spark.implicits._
    val docs2 = docs.select(col("doc_id") + 100 as "doc_id", col("text"))
    var mid: Set[Seq[Any]] = null
    AnnIndex.onBeforeIndexPublish = () => {
      mid = TextIndex.probeTop(spark, idx, topk = 5)
        .collect().map(_.toSeq).toSet
    }
    try TextIndex.build(spark, docs2, idx)
    finally AnnIndex.onBeforeIndexPublish = () => ()
    assert(mid == before, "probe in the stage window must see the old gen")
    val after = TextIndex.probeTop(spark, idx, topk = 5)
      .collect().map(_.toSeq).toSet
    assert(after != before && after.forall(_.head.asInstanceOf[Long] > 100),
      s"post-swap probes read the new generation: $after")
    assert(AnnIndex.dropStaleGenerations(idx) == 1)
  }
}
