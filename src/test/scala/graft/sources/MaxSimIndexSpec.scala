package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persisted late-interaction (MaxSim/PLAID) index:
  *  - a probe is INDEX-ONLY: stage 1 plans exactly the probed cells'
  *    postings partitions, stage 2 only the candidate docs' buckets, and
  *    no seeding/assignment stage appears in the plan;
  *  - refresh folds the corpus CDF under the FROZEN cells and equals the
  *    frozen-cells rebuild bit for bit, rewriting only touched
  *    partitions in BOTH token tables (untouched files carry by
  *    identity);
  *  - the post-refresh probe still ranks exactly (candidate-then-exact:
  *    an inserted doc enters, a deleted doc leaves).
  * The cluster fixture pins the √199-stride seeds to tokens 0 and 199
  * (axes e1/e2), so cells, partitions, and candidates are knowable. */
class MaxSimIndexSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    AnnIndex.seedStrideOverride = Some(199L)
  }

  override def afterAll(): Unit = {
    AnnIndex.seedStrideOverride = None
    super.afterAll()
  }

  private val fmt = "graft.sources.StoreSink"
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def freshDir(name: String): String = {
    val dir = s"target/tmp/maxsim_spec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  /** Two token clusters: doc 0 (tokens 0-9) on axis e1, docs 19/20
    * (tokens 199-208) on axis e2. Seeds under the pinned stride: 0, 199. */
  private def clusteredTokens: DataFrame = {
    import spark.implicits._
    val a = (0 to 9).map(i => (i.toLong, Array(1.0f, 0.0f, 0.0f, i / 100.0f)))
    val b = (199 to 208).map(i =>
      (i.toLong, Array(0.0f, 1.0f, 0.0f, (i - 199) / 100.0f)))
    (a ++ b).toDF("vec_id", "embedding")
  }

  private def seedCorpusStore(dir: String, vecs: DataFrame): Unit = {
    val root = new Path(dir)
    StoreSink.writeExtras(root, fs, StoreSink.extrasOf(Seq(
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.StringType))))
    vecs.select(col("vec_id").as("k"), lit("e").as("grp"),
        lit(0L).as("amt_cents"),
        expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", dir).save()
  }

  private def q(vecId: Long, e: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq((vecId, e)).toDF("vec_id", "embedding")
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
      .select(expr("vec_id div 10").as("q_id"), col("vec_id").as("qt"),
              col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
  }

  private def filesOf(path: String): Map[String, Set[String]] =
    StoreSink.readEntries(new Path(path), fs)
      .groupBy(_.part.getOrElse("?"))
      .map { case (p, es) => p -> es.map(_.name).toSet }

  private def tokSet(path: String): Set[(Long, String, Long, String)] =
    spark.read.format(fmt).option("path", path).load()
      .select(col("k"), col("grp"), col("amt_cents"),
        expr("array_join(transform(emb, x -> cast(x as string)), ',')").as("e"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet

  test("probe is index-only: stage 1 plans the probed cells, stage 2 the " +
       "candidate docs' buckets, no assignment stage, corpus never opens") {
    graft.functions.FloatDot.register(spark)
    val corpus = freshDir("probe_corpus")
    val idx = freshDir("probe_idx")
    seedCorpusStore(corpus, clusteredTokens)
    val (nCl, nTok) = MaxSimIndex.buildFromStore(spark, corpus, idx)
    assert(nCl == 2 && nTok == 20, s"2 cells over 20 tokens: ($nCl, $nTok)")
    // an e1-axis query token probes cell 0 only (nprobe=1) → candidates =
    // doc 0 alone → refinement reads doc 0's bucket alone
    val got = MaxSimIndex.probe(spark, q(9000L, Array(1.0f, 0.05f, 0.0f, 0.0f)),
      idx, nprobe = 1, topk = 3).collect()
    assert(got.length == 1 && got(0).getLong(1) == 0L,
      s"cell-0 candidates are doc 0 only: ${got.toSeq}")
    // plan facts: no assignment window over the corpus, no corpus rescan
    val plan = MaxSimIndex.probe(spark,
        q(9000L, Array(1.0f, 0.05f, 0.0f, 0.0f)), idx, nprobe = 1, topk = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains(corpus.toLowerCase),
      "probe must not rescan the corpus store")
    // partition pruning in the postings: ONE of 2 cells planned
    val (cand, kept) = scansOf {
      spark.read.format(fmt).option("path", MaxSimIndex.postingsPath(idx))
        .load().where(col("grp") === "0").count()
    }.plannedFiles
    assert(cand == 2 && kept == 1,
      s"postings must prune to the probed cell: kept $kept of $cand")
  }

  test("refresh == frozen-cells rebuild bit for bit; only touched " +
       "partitions rewrite in BOTH token tables; probe tracks the head") {
    graft.functions.FloatDot.register(spark)
    val corpus = freshDir("refresh_corpus")
    val idx = freshDir("refresh_idx")
    seedCorpusStore(corpus, clusteredTokens)
    MaxSimIndex.buildFromStore(spark, corpus, idx)
    val cellsBefore = spark.read.format(fmt)
      .option("path", MaxSimIndex.cellsPath(idx)).load()
      .collect().map(_.toSeq.toString).toSet
    val plBefore = filesOf(MaxSimIndex.postingsPath(idx))
    val dtBefore = filesOf(MaxSimIndex.doctokPath(idx))
    assert(plBefore.keySet == Set("0", "199"), s"$plBefore")
    // corpus evolves: doc 30 arrives near cluster B (token 300), token
    // 200 (doc 20) retires
    import spark.implicits._
    Seq((300L, Array(0.0f, 1.0f, 0.02f, 0.0f))).toDF("vec_id", "embedding")
      .select(col("vec_id").as("k"), lit("e").as("grp"),
        lit(0L).as("amt_cents"),
        expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    new StoreTable(corpus).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 200L)))
    val (changed, parts) = MaxSimIndex.refresh(spark, idx)
    // postings: ONE touched cell (199 — both 300's home and 200's);
    // doctok: buckets of docs 30 (30%4=2) and 20 (20%4=0) — 2 touched
    assert(changed == 2 && parts == 3, s"($changed, $parts)")
    // cells FROZEN
    assert(spark.read.format(fmt).option("path", MaxSimIndex.cellsPath(idx))
      .load().collect().map(_.toSeq.toString).toSet == cellsBefore)
    // untouched partitions carry by FILE IDENTITY
    val plAfter = filesOf(MaxSimIndex.postingsPath(idx))
    val dtAfter = filesOf(MaxSimIndex.doctokPath(idx))
    assert(plAfter("0") == plBefore("0"), "untouched cell must keep its files")
    assert(plAfter("199") != plBefore("199"), "touched cell must rewrite")
    assert(dtAfter("3") == dtBefore("3"), "untouched doc bucket must keep files")
    assert(dtAfter("0") != dtBefore("0"), "doc 20's bucket must rewrite")
    // content == the frozen-cells rebuild of the head corpus: assignment
    // against the PERSISTED cells, token 200 gone, token 300 present
    val headTok = AnnIndex.nzOfStore(spark, corpus)
      .select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
              col("embedding").as("n_emb"), col("nrm").as("n_nrm"))
    val expectedPl = graft.ops.TrainingOps.assign(
        headTok.select(col("n_id"), col("n_emb"), col("n_nrm")),
        MaxSimIndex.cells(spark, idx)
          .select(col("c_id"), col("c_emb"), col("c_nrm")))
      .join(headTok.select(col("n_id"), col("d_id")), "n_id")
      .select(col("n_id"), col("bucket").cast("string"), col("d_id"),
        expr("array_join(transform(n_emb, x -> cast(x as string)), ',')"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(tokSet(MaxSimIndex.postingsPath(idx)) == expectedPl,
      "refresh must equal the frozen-cells rebuild bit for bit")
    assert(!tokSet(MaxSimIndex.doctokPath(idx)).exists(_._1 == 200L) &&
           tokSet(MaxSimIndex.doctokPath(idx)).exists(_._1 == 300L))
    // the probe tracks the head corpus: an e2 query now ranks docs 19,
    // 20, AND 30 by the exact kernel over their full token sets
    val got = MaxSimIndex.probe(spark, q(9000L, Array(0.0f, 1.0f, 0.01f, 0.0f)),
      idx, nprobe = 1, topk = 5).collect()
    assert(got.map(_.getLong(1)).toSet == Set(19L, 20L, 30L), s"${got.toSeq}")
    // idempotent: nothing new to fold
    assert(MaxSimIndex.refresh(spark, idx) == ((0L, 0L)))
  }

  test("filtered probe: the doc attribute gates candidacy, refresh " +
       "carries it from the corpus amt slot, non-attr builds refuse") {
    graft.functions.FloatDot.register(spark)
    val corpus = freshDir("flt_corpus")
    val idx = freshDir("flt_idx")
    // corpus amt slot = the per-doc attribute (d_id % 2): docs 0, 20
    // are tenant 0; doc 19 is tenant 1
    val root = new Path(corpus)
    StoreSink.writeExtras(root, fs, StoreSink.extrasOf(Seq(
      org.apache.spark.sql.types.StructField("emb",
        org.apache.spark.sql.types.StringType))))
    clusteredTokens.select(col("vec_id").as("k"), lit("e").as("grp"),
        expr("(vec_id div 10) % 2").as("amt_cents"),
        expr("array_join(transform(embedding, x -> cast(x as string)), ',')").as("emb"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    MaxSimIndex.buildFromStore(spark, corpus, idx, attr = true)
    // an e2 query filtered to tenant 1 sees doc 19 alone (docs 20 and
    // 0 are tenant 0 — dropped at candidacy, never scored)
    val qe2 = q(9000L, Array(0.0f, 1.0f, 0.01f, 0.0f))
    val t1 = MaxSimIndex.probeFiltered(spark, qe2, idx, 1L, nprobe = 2)
      .collect()
    assert(t1.map(_.getLong(1)).toSet == Set(19L), s"${t1.toSeq}")
    val t0 = MaxSimIndex.probeFiltered(spark, qe2, idx, 0L, nprobe = 2)
      .collect()
    assert(t0.map(_.getLong(1)).toSet == Set(0L, 20L), s"${t0.toSeq}")
    // refresh: doc 30 (tenant 0) arrives through the CDF — the amt slot
    // carries its attribute into both token tables
    import spark.implicits._
    Seq((300L, "e", 0L, "0.0,1.0,0.02,0.0"))
      .toDF("k", "grp", "amt_cents", "emb")
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", corpus).save()
    MaxSimIndex.refresh(spark, idx)
    val after = MaxSimIndex.probeFiltered(spark, qe2, idx, 0L, nprobe = 2)
      .collect()
    assert(after.map(_.getLong(1)).toSet == Set(0L, 20L, 30L),
      s"${after.toSeq}")
    assert(MaxSimIndex.probeFiltered(spark, qe2, idx, 1L, nprobe = 2)
      .collect().map(_.getLong(1)).toSet == Set(19L),
      "tenant 1 must never see the tenant-0 doc")
    // an index without the slot refuses loudly
    val plainIdx = freshDir("flt_plain")
    val nz = clusteredTokens
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
    MaxSimIndex.build(spark, nz,
      nz.select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")), plainIdx)
    val e = intercept[IllegalArgumentException] {
      MaxSimIndex.probeFiltered(spark, qe2, plainIdx, 1L)
    }
    assert(e.getMessage.contains("attr"))
  }

  test("refresh refuses an index built without corpus provenance") {
    graft.functions.FloatDot.register(spark)
    val idx = freshDir("noprov_idx")
    val nz = clusteredTokens
      .withColumn("nrm", sqrt(expr("graft_float_dot(embedding, embedding)")))
    MaxSimIndex.build(spark, nz,
      nz.select(col("vec_id").as("n_id"), expr("vec_id div 10").as("d_id"),
        col("embedding").as("n_emb"), col("nrm").as("n_nrm")), idx)
    val e = intercept[IllegalStateException] { MaxSimIndex.refresh(spark, idx) }
    assert(e.getMessage.contains("nothing to refresh"))
  }
}
