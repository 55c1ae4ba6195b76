package graft.sources

import graft.Local
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

/** PERSISTED LATE-INTERACTION (MaxSim) INDEX — the multi-vector member of
  * the index family (round-13 verdict #1): q_sim_maxsim_ivf re-derives its
  * cell assignment inside every query; a ColBERT-style serving system
  * builds that artifact ONCE (the PLAID/ColBERTv2 shape) and probes it.
  * Three ordinary graft-store tables under the shared [[IndexGen]]
  * generation pointer (atomic rebuild, staged aside, one pointer swap):
  *
  *  - `cells` — the coarse quantizer: one row per √n-stride seed vector
  *    (k = the seed token's vec_id, emb = the vector as farr). MaxSim
  *    candidate generation only needs cells that TRACK the token
  *    distribution, so the seeds themselves are the cells — exactly what
  *    the retrain-per-query pipeline uses, which is what lets a probe
  *    share its oracle verbatim. √n cardinality ([[AnnIndex.seedStride]]):
  *    the cells broadcast stays bounded at any corpus.
  *  - `postings` — one row per corpus TOKEN, identity-partitioned by its
  *    assigned cell (k = token vec_id, grp = cell, amt_cents = the DOC id
  *    the token belongs to, emb = the vector): probing c cells PLANS c
  *    partitions — candidate generation is the store's partition pruning,
  *    never a corpus scan.
  *  - `doctok` — the SAME tokens keyed for refinement: identity-
  *    partitioned by DOC BUCKET (grp = d_id % nb, amt_cents = d_id).
  *    Stage 2 must score EVERY token of a candidate doc (ranking by the
  *    probed cells' partial sums alone collapsed recall to 0–40% — the
  *    round-21 scale lesson: never rank by partial sums), and a
  *    cell-partitioned table scatters a doc's tokens; the doc-bucketed
  *    twin is the ColBERT doc-ordered residual store, so refinement
  *    PLANS only the candidate docs' buckets.
  *
  * Probe = PLAID two-stage serving: (1) each query token ranks the
  * broadcast cells and takes its nprobe nearest; a doc is a CANDIDATE
  * when any of its tokens lives in a probed cell (postings partitions);
  * (2) the EXACT MaxSim kernel (one e6 rounding, integer max-then-sum)
  * runs over the candidates' full token sets (doctok buckets). Ranking
  * inside the candidate set is exact — recall is purely candidate
  * coverage, the PLAID contract.
  *
  * Maintenance is INCREMENTAL ([[refresh]]): the corpus store's change
  * feed folds under the FROZEN cells — changed tokens leave both token
  * tables, inserts assign against the persisted cells, and only touched
  * cell partitions / doc buckets rewrite (replace-set commits). At
  * 100 TB: cells ≈ √n rows (broadcast-sized), a probe reads
  * nprobe·|query tokens| posting lists plus the candidate docs' buckets,
  * and refresh cost tracks the delta — the [[AnnIndex]] contract
  * extended to multi-vector entities. */
object MaxSimIndex {

  private val Fmt = "graft.sources.StoreSink"
  /** Doc-bucket count of the `doctok` table — a BUILD property: the
    * refinement table's partition granularity (more buckets = finer
    * candidate pruning, more files). */
  val BucketsProp = "graft.index.maxsim.buckets"
  /** "1" when both token tables carry a per-DOC integer attribute slot
    * (round-13 verdict #2's pattern completed across all three
    * retrieval legs): filtered late-interaction search drops
    * non-matching docs at CANDIDATE GENERATION — before any kernel work
    * — and refinement's doc set shrinks with the filter. Refresh reads
    * the attribute from the corpus store's amt slot (CDF rows carry
    * it), like the TextIndex attr convention. */
  val AttrProp = "graft.index.maxsim.attr"

  private def cl(genRoot: String) = s"$genRoot/cells"
  private def pl(genRoot: String) = s"$genRoot/postings"
  private def dt(genRoot: String) = s"$genRoot/doctok"

  def cellsPath(indexPath: String): String = cl(IndexGen.dir(indexPath))
  def postingsPath(indexPath: String): String = pl(IndexGen.dir(indexPath))
  def doctokPath(indexPath: String): String = dt(IndexGen.dir(indexPath))

  /** Derived doc-bucket count: ~64k tokens per bucket, floor 4 (pruning
    * must exist even on test corpora), cap 4096 (file-count budget — the
    * [[TextIndex.defaultShards]] posture). */
  private[graft] def docBuckets(nTokens: Long): Int =
    math.max(4, math.min(4096, math.ceil(nTokens.toDouble / 65536.0).toInt))

  /** The persisted cells as (c_id, c_emb, c_nrm). */
  def cells(s: SparkSession, indexPath: String): DataFrame =
    cellsAt(s, IndexGen.dir(indexPath))

  /** Per-cell live token counts from the postings MANIFEST alone (zero
    * data reads — one line per partition file): the occupancy audit a
    * PLAID operator reads before deciding to rebuild (skewed token
    * piles = stage-1 candidate lists degenerating toward a scan). */
  def cellCounts(indexPath: String): Seq[(Long, Long)] =
    cellTokens(new Path(postingsPath(indexPath))).toSeq

  private def cellTokens(plRoot: Path): Map[Long, Long] =
    StoreSink.readEntries(plRoot, StoreSink.fs(plRoot))
      .groupBy(e => StoreSink.partTag(e.part.get)._2.toLong)
      .map { case (c, es) => (c, es.map(e => math.max(e.rows, 0L)).sum) }

  private def cellsAt(s: SparkSession, genRoot: String): DataFrame = {
    graft.functions.FloatDot.register(s)
    s.read.format(Fmt).option("path", cl(genRoot)).load()
      .select(col("k").as("c_id"), col("emb").as("c_emb"))
      .withColumn("c_nrm", sqrt(expr("graft_float_dot(c_emb, c_emb)")))
  }

  /** Build the index. `nzAll` (vec_id, embedding, nrm) supplies the seed
    * pool and the stride derivation — the SAME frame the
    * retrain-per-query pipeline seeds from, so a probe of the persisted
    * artifact reproduces it bit for bit; `tokens` (n_id, d_id, n_emb,
    * n_nrm) are the corpus tokens to index, grouped into docs by d_id.
    * Returns (n_cells, n_tokens). Stage-then-swap: a concurrent probe
    * reads the previous generation until the pointer moves. */
  def build(s: SparkSession, nzAll: DataFrame, tokens: DataFrame,
            indexPath: String,
            corpusRef: Option[(String, Int)] = None,
            attr: Boolean = false): (Long, Long) = {
    require(!attr || tokens.columns.contains("attr"),
      "attr builds take tokens carrying an integer per-doc 'attr' column")
    graft.functions.FloatDot.register(s)
    val gen = IndexGen.next(indexPath)
    val genRoot = s"$indexPath/$gen"
    val clRoot = new Path(cl(genRoot))
    val plRoot = new Path(pl(genRoot))
    val dtRoot = new Path(dt(genRoot))
    val fsys = StoreSink.fs(clRoot)
    val farr = StoreSink.extrasOf(Seq(
      StructField("emb", StoreSink.FloatArrayType)) ++
      (if (attr) Seq(StructField("attr",
        org.apache.spark.sql.types.LongType)) else Nil))
    StoreSink.writeExtras(clRoot, fsys, StoreSink.extrasOf(Seq(
      StructField("emb", StoreSink.FloatArrayType))))
    StoreSink.writeExtras(plRoot, fsys, farr)
    StoreSink.writeExtras(dtRoot, fsys, farr)
    val attrCols = if (attr) Seq(col("attr")) else Nil
    val stride = AnnIndex.seedStrideOverride
      .getOrElse(AnnIndex.seedStride(nzAll.count()))
    val seeds = nzAll.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"),
              col("nrm").as("c_nrm"))
      .localCheckpoint() // codebook-sized: √n rows
    // token → cell assignment (the one corpus-sized stage of the build);
    // the doc id (and filter attribute) ride THROUGH the assignment's
    // aggregate (assign's carry — r14: the former join-back on n_id
    // re-shuffled the whole token table to recover columns the input
    // already had) and land in the posting row's amt slot, which doubles
    // as the store's second zone column
    val asg = graft.ops.TrainingOps.assign(
      tokens.select(Seq(col("n_id"), col("n_emb"), col("n_nrm"),
        col("d_id")) ++ attrCols: _*),
      seeds, carry = Seq("d_id") ++ (if (attr) Seq("attr") else Nil))
    // cells and postings commit CONCURRENTLY (different roots, both read
    // the checkpointed seeds; §2.6, r15) — only the doctok twin must wait:
    // its bucket count derives from the committed postings' row count
    StoreSink.inParallel {
      seeds.select(col("c_id").as("k"), lit("c").as("grp"),
          lit(0L).as("amt_cents"), col("c_emb").as("emb"))
        .coalesce(1)
        .write.format(Fmt).mode("append").option("path", cl(genRoot)).save()
    } {
      asg
        .select(Seq(col("n_id").as("k"), col("bucket").cast("string").as("grp"),
                col("d_id").as("amt_cents"), col("n_emb").as("emb")) ++
          attrCols: _*)
        .write.format(Fmt).mode("append").option("path", pl(genRoot))
        .option("partitionedBy", "identity:grp").save()
    }
    val nTok = StoreSink.readEntries(plRoot, fsys).map(_.rows).sum
    // the refinement twin: same tokens, doc-bucketed — bucket count fixes
    // at build and persists (probes and refresh resolve the index's OWN
    // granularity, never a default)
    val nb = docBuckets(nTok)
    tokens
      .select(Seq(col("n_id").as("k"),
              pmod(col("d_id"), lit(nb)).cast("string").as("grp"),
              col("d_id").as("amt_cents"), col("n_emb").as("emb")) ++
        attrCols: _*)
      .write.format(Fmt).mode("append").option("path", dt(genRoot))
      .option("partitionedBy", "identity:grp").save()
    StoreSink.withCommitLock(clRoot, fsys) {
      val ps = StoreSink.readProps(clRoot, fsys).toMap ++
        Map(BucketsProp -> nb.toString) ++
        (if (attr) Map(AttrProp -> "1") else Map.empty) ++
        corpusRef.map(r => AnnIndex.CorpusProp -> r._1) ++
        corpusRef.map(r => AnnIndex.VersionProp -> r._2.toString)
      StoreSink.writeProps(clRoot, fsys, ps.toSeq)
    }
    val nCl = StoreSink.readEntries(clRoot, fsys).map(_.rows).sum
    AnnIndex.onBeforeIndexPublish() // shared stage/publish-window hook
    IndexGen.publish(indexPath, gen)
    (nCl, nTok)
  }

  /** Build from a corpus STORE of token vectors (k = token vec_id,
    * trailing `emb` = float CSV; doc id = k div 10, the harness's
    * grouping convention), recording provenance for [[refresh]]. */
  def buildFromStore(s: SparkSession, corpusPath: String,
                     indexPath: String,
                     attr: Boolean = false): (Long, Long) = {
    val vs = StoreSink.listVersions(new Path(corpusPath),
      StoreSink.fs(new Path(corpusPath)))
    // attr builds read the per-doc attribute from the corpus store's amt
    // slot (the TextIndex convention — CDF rows carry it for refresh)
    val rd = s.read.format(Fmt).option("path", corpusPath)
    val t = vs.lastOption.fold(rd)(v => rd.option("atVersion", v.toString))
      .load()
    graft.functions.FloatDot.register(s)
    val nz = t.select(Seq(col("k").as("vec_id"),
        expr("transform(split(emb, ','), x -> cast(x as float))").as("embedding")) ++
        (if (attr) Seq(col("amt_cents").as("attr")) else Nil): _*)
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      .where(col("nrm") > 0)
    build(s, nz, tokensOf(nz, attr), indexPath,
      Some((corpusPath, vs.lastOption.getOrElse(0))), attr = attr)
  }

  private def tokensOf(nz: DataFrame, attr: Boolean = false): DataFrame =
    nz.select(Seq(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
              col("embedding").as("n_emb"), col("nrm").as("n_nrm")) ++
      (if (attr) Seq(col("attr")) else Nil): _*)

  /** PLAID two-stage probe of the persisted artifact. `queries` =
    * (q_id, qt, q_emb, q_nrm) — multi-vector queries, one row per query
    * TOKEN. Stage 1 plans only the probed cells' postings partitions;
    * stage 2 plans only the candidate docs' doctok buckets and runs the
    * EXACT kernel (candidate-then-exact — ranking by stage-1 partial
    * sums is the recall-collapsing bug this design exists to avoid).
    * Output shape = q_sim_maxsim_ivf: (q_id, d_id, maxsim_e6, rn). */
  def probe(s: SparkSession, queries: DataFrame, indexPath: String,
            nprobe: Int = 4, topk: Int = 5): DataFrame =
    probeImpl(s, queries, indexPath, nprobe, topk, None)

  /** FILTERED LATE-INTERACTION SEARCH — the metadata predicate on the
    * multi-vector leg (completing the filtered symmetry with
    * AnnIndex.probeFiltered and TextIndex's attrEq probes): only docs
    * whose stored attribute equals `attrEq` become candidates, so
    * non-matching docs never consume kernel work, and refinement's
    * doc-bucket scan shrinks with the filter. Post-filter-within-
    * probed-cells semantics, the standard IVF filtered-search trade. */
  def probeFiltered(s: SparkSession, queries: DataFrame, indexPath: String,
                    attrEq: Long, nprobe: Int = 4,
                    topk: Int = 5): DataFrame =
    probeImpl(s, queries, indexPath, nprobe, topk, Some(attrEq))

  private def probeImpl(s: SparkSession, queries: DataFrame,
                        indexPath: String, nprobe: Int, topk: Int,
                        attrEq: Option[Long]): DataFrame = {
    val genRoot = IndexGen.dir(indexPath) // ONE generation end to end
    graft.functions.FloatDot.register(s)
    val clRoot = new Path(cl(genRoot))
    val props = StoreSink.readProps(clRoot, StoreSink.fs(clRoot)).toMap
    val nb = props.getOrElse(BucketsProp, "4").toInt
    require(attrEq.isEmpty || props.get(AttrProp).contains("1"),
      s"index at $indexPath has no attribute slot ($AttrProp) — " +
        "filtered probes need an attr build")
    val q = queries
      .select(col("q_id"), col("qt"), col("q_emb"), col("q_nrm"))
      .localCheckpoint() // query-sized
    val wP = Window.partitionBy(col("qt"))
      .orderBy(col("p_score").desc, col("c_id"))
    // ONE bounded job: the (q_id, bucket) pairs collect once; the
    // broadcast side below is a local relation of the same rows and the
    // bucket list for partition pruning derives driver-side (the previous
    // localCheckpoint + distinct().collect() pair was two sequential jobs
    // over the same |query tokens| × nprobe rows — r14 optimization)
    val probedDf = q.join(broadcast(cellsAt(s, genRoot)))
      .withColumn("p_score",
        expr("graft_float_dot(q_emb, c_emb)") / (col("q_nrm") * col("c_nrm")))
      .withColumn("prn", row_number().over(wP))
      .where(col("prn") <= nprobe)
      .select(col("q_id"), col("c_id").as("bucket")).distinct()
    val probedRows = Local(probedDf, IndexGen.BroadcastRows)
    val probed = probedRows.toDF(s)
    val buckets = probedRows.rows.map(_.getLong(1)).distinct.map(_.toString)
    // candidate docs: any token in a probed cell — partition pruning IS
    // the inverted-list lookup; only (cell, doc) pairs flow, no vectors
    val candScan = s.read.format(Fmt).option("path", pl(genRoot)).load()
      .where(col("grp").isin(buckets: _*))
    // filtered candidacy: the doc-level attribute drops non-matching
    // docs BEFORE any kernel work (candidates shrink, so stage 2's
    // bucket scans and broadcasts shrink with the filter)
    // the PLAID stage-2 working set: bounded by the probed cells' DOC
    // counts × |queries| — cells hold ~√n tokens each under healthy
    // occupancy, so this set is sublinear in the corpus; a token pile-up
    // in one cell is exactly what [[cellCounts]]' skew audit exists to
    // catch before this set degenerates. Collected ONCE: the broadcast
    // side is a local relation and the doc-bucket list derives
    // driver-side (was a localCheckpoint + a second distinct/collect job).
    // The enforced bound: the probed cells' token counts (from the
    // manifest, each ≥ the cell's doc count) × the distinct query ids.
    val candDf = attrEq.fold(candScan)(v => candScan.where(col("attr") === v))
      .select(col("grp").cast("long").as("bucket"),
              col("amt_cents").as("d_id"))
      .join(broadcast(probed), "bucket")
      .select(col("q_id"), col("d_id")).distinct()
    val tokens = cellTokens(new Path(pl(genRoot)))
    val candRows = Local(candDf,
      buckets.map(b => tokens.getOrElse(b.toLong, 0L)).sum *
        probedRows.rows.map(_.getLong(0)).distinct.size)
    val cand = candRows.toDF(s)
    val docB = candRows.rows.map(r => java.lang.Math.floorMod(r.getLong(1), nb.toLong))
      .distinct.map(_.toString) // ≤ nb
    val wTop = Window.partitionBy(col("q_id"))
      .orderBy(col("maxsim_e6").desc, col("d_id"))
    // EXACT refinement over the candidates' FULL token sets, from the
    // doc-bucketed twin — the corpus never opens at probe time
    val refScan = s.read.format(Fmt).option("path", dt(genRoot)).load()
      .where(col("grp").isin(docB: _*))
    attrEq.fold(refScan)(v => refScan.where(col("attr") === v))
      .select(col("amt_cents").as("d_id"), col("emb").as("n_emb"))
      .withColumn("n_nrm", sqrt(expr("graft_float_dot(n_emb, n_emb)")))
      .join(broadcast(cand), "d_id")
      .join(broadcast(q), "q_id")
      .withColumn("cos_e6",
        round(expr("graft_float_dot(q_emb, n_emb)")
          / (col("q_nrm") * col("n_nrm")) * 1e6).cast("long"))
      .groupBy(col("q_id"), col("qt"), col("d_id"))
      .agg(max(col("cos_e6")).as("m"))
      .groupBy(col("q_id"), col("d_id")).agg(sum(col("m")).as("maxsim_e6"))
      .withColumn("rn", row_number().over(wTop)).where(col("rn") <= topk)
      .select(col("q_id"), col("d_id"), col("maxsim_e6"), col("rn"))
  }

  /** REBUILD POLICY — the AnnIndex.rebuildIf posture for the
    * late-interaction artifact: fold any pending corpus changes, then
    * retrain IFF the postings' occupancy skew (max cell / mean cell, e4
    * units, from the MANIFEST alone — the [[cellCounts]] audit) exceeds
    * the threshold. Skewed token piles mean stage-1 candidate lists
    * degenerate toward a scan for queries probing the hot cell; only a
    * re-seed at the current corpus re-centers them. The rebuild reuses
    * the index's own corpus provenance and attr configuration and
    * publishes atomically through the generation pointer. Returns
    * (action, skew_e4). */
  def rebuildIf(s: SparkSession, indexPath: String,
                maxSkewE4: Long): (String, Long) = {
    refresh(s, indexPath) // maintenance ordering: fold the feed first
    val genRoot = IndexGen.dir(indexPath)
    val clRoot = new Path(cl(genRoot))
    val props = StoreSink.readProps(clRoot, StoreSink.fs(clRoot)).toMap
    val corpus = props.getOrElse(AnnIndex.CorpusProp,
      throw new IllegalStateException(
        s"index at $indexPath has no corpus provenance — policy needs one"))
    val hasAttr = props.get(AttrProp).contains("1")
    val cells = cellCounts(indexPath)
    val total = cells.map(_._2).sum
    val skewE4 =
      if (total == 0L || cells.isEmpty) 0L
      else cells.map(_._2).max * 10000L * cells.size / total
    if (skewE4 > maxSkewE4) {
      buildFromStore(s, corpus, indexPath, attr = hasAttr) // atomic swap
      ("rebuild", skewE4)
    } else ("keep", skewE4)
  }

  /** INCREMENTAL MAINTENANCE: fold the corpus store's change feed since
    * the indexed version into BOTH token tables under the FROZEN cells —
    * deletes drop their token rows, inserts assign against the persisted
    * cells, and only touched cell partitions / doc buckets rewrite (one
    * replace-set commit each). The cells are never re-seeded — recall
    * drifts only as far as the data does (rebuild to re-center, the IVF
    * contract). Returns (tokens_changed, partitions_rewritten). */
  def refresh(s: SparkSession, indexPath: String): (Long, Long) = {
    val genRoot = IndexGen.dir(indexPath)
    val clRoot = new Path(cl(genRoot))
    val plRoot = new Path(pl(genRoot))
    val dtRoot = new Path(dt(genRoot))
    val fsys = StoreSink.fs(clRoot)
    val props = StoreSink.readProps(clRoot, fsys).toMap
    val corpus = props.getOrElse(AnnIndex.CorpusProp,
      throw new IllegalStateException(
        s"index at $indexPath was not built from a corpus store — nothing to refresh"))
    val fromV = props(AnnIndex.VersionProp).toInt
    val nb = props.getOrElse(BucketsProp, "4").toInt
    val hasAttr = props.get(AttrProp).contains("1")
    val attrCols = if (hasAttr) Seq(col("attr")) else Nil
    val headV = StoreSink.listVersions(new Path(corpus),
      StoreSink.fs(new Path(corpus))).lastOption.getOrElse(0)
    if (headV == fromV) return (0L, 0L)
    graft.functions.FloatDot.register(s)
    val feed = StoreSink.changes(s, corpus, fromV, Some(headV))
      .select(Seq(col("op"), col("k").as("vec_id"),
        expr("transform(split(emb, ','), x -> cast(x as float))").as("embedding")) ++
        // attr indexes read the attribute from the corpus amt slot
        (if (hasAttr) Seq(col("amt_cents").as("attr")) else Nil): _*)
      .localCheckpoint() // CDF-sized: changed rows only
    val changedKeys = feed.select(col("vec_id").as("k")).distinct()
    val ins = feed.where(col("op") === "insert")
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      .where(col("nrm") > 0)
    val insTok = tokensOf(ins.select(Seq(col("vec_id"), col("embedding"),
      col("nrm")) ++ attrCols: _*), hasAttr)
    val newPl = graft.ops.TrainingOps.assign(
        insTok.select(col("n_id"), col("n_emb"), col("n_nrm")),
        cellsAt(s, genRoot))
      .join(insTok.select(Seq(col("n_id"), col("d_id")) ++ attrCols: _*),
        "n_id")
      .select(Seq(col("n_id").as("k"), col("bucket").cast("string").as("grp"),
              col("d_id").as("amt_cents"), col("n_emb").as("emb")) ++
        attrCols: _*)
      .localCheckpoint()
    val newDt = insTok
      .select(Seq(col("n_id").as("k"),
              pmod(col("d_id"), lit(nb)).cast("string").as("grp"),
              col("d_id").as("amt_cents"), col("n_emb").as("emb")) ++
        attrCols: _*)
      .localCheckpoint()
    var parts = 0L
    // one fold per token table: surviving rows of touched partitions
    // (anti-join on changed keys — the predicate must not scale with the
    // delete batch) + the fresh rows, ONE replace-set commit
    def fold(root: Path, path: String, fresh: DataFrame): Unit = {
      def tbl = s.read.format(Fmt).option("path", path).load()
      val touched = (fresh.select(col("grp")).distinct()
        .unionByName(tbl.join(changedKeys, Seq("k"), "left_semi")
          .select(col("grp")).distinct())
        .distinct().collect().map(_.getString(0))).toSeq
      if (touched.isEmpty) return
      val replaced = StoreSink.readEntries(root, fsys)
        .filter(_.part.exists(touched.contains)).map(_.name)
      tbl.where(col("grp").isin(touched: _*))
        .join(changedKeys, Seq("k"), "left_anti")
        .select(Seq(col("k"), col("grp"), col("amt_cents"), col("emb")) ++
          attrCols: _*)
        .unionByName(fresh)
        .write.format(Fmt).mode("append").option("path", path)
        .option("replace", replaced.mkString(","))
        .option("preserveMarkers", "true").save()
      parts += touched.size
    }
    fold(plRoot, pl(genRoot), newPl)
    fold(dtRoot, dt(genRoot), newDt)
    StoreSink.withCommitLock(clRoot, fsys) {
      val ps = StoreSink.readProps(clRoot, fsys).toMap
      StoreSink.writeProps(clRoot, fsys,
        (ps + (AnnIndex.VersionProp -> headV.toString)).toSeq)
    }
    (changedKeys.count(), parts)
  }
}
