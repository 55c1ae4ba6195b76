package graft.sources

import graft.SparkSpec
import graft.GraftSession.withConf
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store PARTITIONING (StoreSink PartSpec): files route into partition
  * directories, the manifest carries each file's partition value, pruning
  * answers partition predicates from metadata, the spec is immutable under
  * append, and — the point — two stores bucketed the same way on k join
  * with ZERO exchanges (storage-partitioned join through the graft
  * catalog's `bucket` V2 function). */
class StorePartSpec extends SparkSpec {

  private val fmt = "graft.sources.StoreSink"
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def df(ks: Range, grpOf: Int => String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k.toLong, grpOf(k), k.toLong * 100)).toDF("k", "grp", "amt_cents")
  }

  private def freshDir(name: String): String = {
    val dir = s"target/tmp/storepart_spec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  test("identity partitioning: dirs, manifest values, exact pruning, sticky spec") {
    val dir = freshDir("identity")
    df(1 to 90, k => "g" + (k % 3))
      .repartition(4)
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    val root = new Path(dir)
    // layout: every data file lives in its partition directory
    (0 to 2).foreach(g => assert(fs.exists(new Path(root, s"grp=g$g")),
      s"missing partition dir grp=g$g"))
    val entries = StoreSink.readEntries(root, fs)
    assert(entries.nonEmpty && entries.forall(e =>
      e.part.isDefined && e.name.startsWith(s"grp=${e.part.get}/")),
      s"entries must carry their partition value and live in its dir: $entries")
    // read back through the manifest
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(t.count() == 90)
    // EXACT partition pruning (the bloom is probabilistic; dirs are not)
    val oneq = t.where(col("grp") === "g1").agg(sum(col("amt_cents")))
    assert(oneq.collect()(0).getLong(0) == (1 to 90).filter(_ % 3 == 1).map(_ * 100L).sum)
    val kept = ScanMetrics(oneq).sum("partKeptFiles")
    assert(kept == entries.count(_.part.contains("g1")) && kept < entries.size,
      s"grp=g1 should plan exactly its partition's files, planned kept=$kept " +
        s"of ${entries.size}")
    // append WITHOUT restating the spec: partitioning is table metadata
    df(91 to 96, _ => "g0").write.format(fmt).mode("append").option("path", dir).save()
    val after = StoreSink.readEntries(root, fs)
    assert(after.forall(_.part.isDefined), s"append lost partition routing: $after")
    // append REQUESTING a different spec fails loudly
    val ex = intercept[Exception] {
      df(97 to 99, _ => "g0").write.format(fmt).mode("append")
        .option("path", dir).option("partitionedBy", "bucket:4:k").save()
    }
    assert(ex.getMessage.contains("partitioning mismatch"), ex.getMessage)
  }

  test("bucket partitioning: SPJ joins two stores on k with zero exchanges") {
    val ctas = freshDir("ctas")
    withConf(spark)(
      GraftCatalog.CtasDirKey -> ctas,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql("DROP TABLE IF EXISTS graft.spj_a")
      spark.sql("DROP TABLE IF EXISTS graft.spj_b")
      df(1 to 200, k => "g" + (k % 3)).createOrReplaceTempView("spj_src")
      spark.sql(
        """CREATE TABLE graft.spj_a PARTITIONED BY (bucket(4, k))
          |AS SELECT * FROM spj_src""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.spj_b PARTITIONED BY (bucket(4, k))
          |AS SELECT k, grp, amt_cents * 2 AS amt_cents FROM spj_src WHERE k <= 120""".stripMargin)
      // layout on disk: bucket dirs, manifest part values = floorMod(k, 4)
      val rootA = new Path(s"$ctas/spj_a")
      assert((0 to 3).forall(b => fs.exists(new Path(rootA, s"k_bucket=$b"))))
      val entA = StoreSink.readEntries(rootA, fs)
      assert(entA.forall(_.part.isDefined))
      // REQUIRED WRITE DISTRIBUTION: the catalog write clustered rows by
      // the bucket transform into exactly n tasks — ONE file per bucket,
      // not files x tasks (the 1000-executor small-files contract)
      assert(entA.size == 4, s"expected one file per bucket, got $entA")
      val j = spark.table("graft.spj_a").as("a")
        .join(spark.table("graft.spj_b").as("b"), "k")
        .select(col("k"), col("a.amt_cents").as("x"), col("b.amt_cents").as("y"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed store join still shuffles:\n$plan")
      // one key-sorted file per bucket (required write distribution) +
      // SupportsReportOrdering: the merge join needs no Sort operator
      // (match the node, not the "Sort" inside "SortMergeJoin")
      assert(!plan.contains("- Sort "),
        s"bucketed store join still sorts (ordering report ignored):\n$plan")
      val rows = j.collect()
      assert(rows.length == 120 && rows.forall(r => r.getLong(2) == 2 * r.getLong(1)))
      spark.sql("DROP TABLE graft.spj_a")
      spark.sql("DROP TABLE graft.spj_b")
    }
  }

  test("partition DDL: SHOW PARTITIONS lists manifest values; DROP/TRUNCATE are metadata ops") {
    val ctas = freshDir("pmddl")
    withConf(spark)(GraftCatalog.CtasDirKey -> ctas) {
      spark.sql("DROP TABLE IF EXISTS graft.pm")
      df(1 to 90, k => "g" + (k % 3)).createOrReplaceTempView("pm_src")
      spark.sql("CREATE TABLE graft.pm PARTITIONED BY (grp) AS SELECT * FROM pm_src")
      val parts = spark.sql("SHOW PARTITIONS graft.pm").collect()
        .map(_.getString(0)).sorted.toSeq
      assert(parts == Seq("grp=g0", "grp=g1", "grp=g2"), parts.toString)
      val one = spark.sql("SHOW PARTITIONS graft.pm PARTITION (grp='g1')")
        .collect().map(_.getString(0)).toSeq
      assert(one == Seq("grp=g1"))
      val root = new Path(s"$ctas/pm")
      val filesBefore = StoreSink.readEntries(root, fs).map(_.name)
      // DROP PARTITION: one manifest swap, zero data bytes touched — the
      // dropped partition's files survive for archived versions
      spark.sql("ALTER TABLE graft.pm DROP PARTITION (grp='g1')")
      assert(spark.table("graft.pm").count() == 60 &&
        spark.table("graft.pm").where(col("grp") === "g1").count() == 0)
      filesBefore.foreach(f => assert(fs.exists(new Path(root, f)),
        s"DROP PARTITION must not delete data file $f (vacuum is the GC)"))
      assert(spark.sql("SHOW PARTITIONS graft.pm").collect().length == 2)
      spark.sql("TRUNCATE TABLE graft.pm PARTITION (grp='g2')")
      assert(spark.table("graft.pm").collect().forall(_.getString(1) == "g0"))
      // ADD PARTITION is refused loudly — partitions materialize on write
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.pm ADD PARTITION (grp='gX')")
      }
      spark.sql("DROP TABLE graft.pm")
    }
  }

  test("a full overwrite may re-partition; vacuum GCs the old layout's dirs") {
    val dir = freshDir("evolve")
    df(1 to 40, k => "g" + (k % 2))
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "bucket:4:k").save()
    val root = new Path(dir)
    assert(fs.exists(new Path(root, "k_bucket=1")))
    // overwrite with a DIFFERENT spec: allowed (append is not)
    df(1 to 40, k => "g" + (k % 2))
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    // the re-partition registers a NEW spec generation (id 2): files tag
    // their spec so archived bucket-tagged entries never mis-prune under
    // the identity spec during time travel
    val entries = StoreSink.readEntries(root, fs)
    assert(entries.forall(e => e.name.startsWith("s2_grp=")), entries.toString)
    assert(entries.forall(e => e.part.exists(_.startsWith("2~"))), entries.toString)
    val cur = StoreSink.readPartSpec(root, fs)
    assert(cur.map(_.line).contains("identity:grp") && cur.exists(_.id == 2))
    assert(StoreSink.readPartSpecs(root, fs).map(_._1) == Seq(1, 2))
    // the old generation stays time-travelable until vacuum; then its
    // bucket dirs empty out and are removed
    StoreSink.vacuum(dir, 1)
    assert(!fs.exists(new Path(root, "k_bucket=1")),
      "vacuum should GC the superseded layout's partition dirs")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 40)
  }

  test("spec evolution: per-generation planning, SPJ withdrawal on mixed " +
       "manifests, DDL refusals, rewrite unifies") {
    val dir = freshDir("specevo")
    val root = new Path(dir)
    // generation 1: bucket:4:k
    df(1 to 40, k => "g" + (k % 2)).repartition(1)
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "bucket:4:k").save()
    // evolve the spec — metadata-only, old files keep their generation
    StoreSink.withCommitLock(root, fs) {
      val (nid, sp) = StoreSink.appendPartSpec(root, fs, "identity:grp")
      assert(nid == 2 && sp.exists(_.id == 2))
    }
    val filesGen1 = StoreSink.readEntries(root, fs).map(_.name).toSet
    // appends now route under the NEW spec
    df(41 to 80, k => "g" + (k % 2)).repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save()
    val entries = StoreSink.readEntries(root, fs)
    assert(entries.map(_.name).toSet.intersect(filesGen1) == filesGen1,
      "evolution must not rewrite old files")
    val gen2 = entries.filterNot(e => filesGen1(e.name))
    assert(gen2.nonEmpty && gen2.forall(e =>
      e.part.exists(_.startsWith("2~")) && e.name.startsWith("s2_grp=")),
      s"new files must tag the new spec: $gen2")
    def t = spark.read.format(fmt).option("path", dir).load()
    assert(t.count() == 80)
    // MIXED-GENERATION PRUNING: k = 5 prunes gen-1 via its bucket value
    // (floorMod(5,4)=1) and can only zone-prune gen-2; grp='g1' prunes
    // gen-2 via its identity value. Both answers stay exact.
    val (tot1, kept1) = scansOf(assert(t.where(col("k") === 5).count() == 1)).plannedFiles
    assert(kept1 < tot1, s"k=5 must prune the old bucket generation: $kept1/$tot1")
    assert(t.where(col("grp") === "g1").count() == 40)
    // partition DDL refuses while generations are mixed (the same logical
    // partition's rows live in retired-spec files)
    val tbl = new StoreTable(dir)
    val e1 = intercept[IllegalArgumentException] {
      tbl.dropPartition(org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString("g1")))
    }
    assert(e1.getMessage.contains("retired partition spec"))
    // SPJ: the mixed table withdraws its partitioning report — a co-
    // bucketed join re-plans WITH exchanges instead of mis-grouping
    withConf(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val other = freshDir("specevo_other")
      df(1 to 40, k => "g" + (k % 2))
        .write.format(fmt).mode("overwrite")
        .option("path", other).option("partitionedBy", "identity:grp").save()
      val j = t.as("a").join(
        spark.read.format(fmt).option("path", other).load().as("b"), "grp")
      assert(j.queryExecution.executedPlan.toString.contains("Exchange"),
        "a mixed-spec table must withdraw its SPJ report")
      assert(j.count() == 80L * 20)
    }
    // a full overwrite under the current spec UNIFIES the generations:
    // every file re-tags spec 2, DDL works again
    t.write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    val unified = StoreSink.readEntries(root, fs)
    assert(unified.forall(_.part.exists(_.startsWith("2~"))), s"$unified")
    assert(StoreSink.readPartSpec(root, fs).exists(_.id == 2),
      "overwrite under the current spec must not mint a new id")
    assert(tbl.dropPartition(org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString("g1"))))
    assert(t.count() == 40 && t.where(col("grp") === "g1").count() == 0)
  }

  test("streaming writes route into partition dirs with manifest values") {
    val dir = freshDir("stream")
    // fix the spec with a batch overwrite, then stream appends into it
    df(1 to 10, k => "g" + (k % 2))
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    val feed = s"$dir-feed"; val chk = s"$dir-chk"
    fs.delete(new Path(feed), true); fs.delete(new Path(chk), true)
    df(11 to 50, k => "g" + (k % 2)).coalesce(1).write.parquet(feed)
    val schema = spark.read.parquet(feed).schema
    val q = spark.readStream.schema(schema).parquet(feed)
      .writeStream.format(fmt)
      .option("path", dir).option("checkpointLocation", chk)
      .start()
    try q.processAllAvailable() finally q.stop()
    val entries = StoreSink.readEntries(new Path(dir), fs)
    assert(entries.forall(e => e.part.isDefined &&
      e.name.startsWith(s"grp=${e.part.get}/")),
      s"streaming append lost partition routing: $entries")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 50)
    assert(StoreSink.epochCount(dir) >= 1)
  }

  test("bucket pruning: a point-key predicate plans one bucket; delete/vacuum respect dirs") {
    val dir = freshDir("bucket")
    df(1 to 80, _ => "a")
      .repartition(2) // 2 tasks x 4 buckets = 8 files, wide zones everywhere
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "bucket:4:k").save()
    val root = new Path(dir)
    val t = spark.read.format(fmt).option("path", dir).load()
    // an IN list spanning the whole key range but ONE bucket: zones keep
    // every file (each covers the range), the bucket mapping prunes alone
    val keys = (2L to 78L by 4L).toSeq
    val probed = scansOf(assert(t.where(col("k").isin(keys: _*)).count() == keys.size))
    val (cand, kept) = (probed.sum("zoneKeptFiles"), probed.sum("partKeptFiles"))
    val inBucket2 = StoreSink.readEntries(root, fs).count(_.part.contains("2"))
    assert(kept == inBucket2 && kept < cand,
      s"k IN (bucket-2 keys) should plan only bucket 2's files, planned ($cand, $kept)")
    // bulk COW delete keeps the rewritten file in its partition dir
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    spark.sql("DELETE FROM graft.store WHERE k <= 40")
    val after = StoreSink.readEntries(root, fs)
    assert(after.forall(e => e.part.isDefined &&
      e.name.startsWith(s"k_bucket=${e.part.get}/")), after.toString)
    assert(spark.table("graft.store").count() == 40)
    // vacuum GCs the replaced generation INSIDE partition dirs
    StoreSink.vacuum(dir, 1)
    val live = StoreSink.listDataFiles(root, fs).toSet
    val referenced = StoreSink.readEntries(root, fs)
      .flatMap(e => e.name +: e.dv.toSeq).toSet
    assert(live == referenced,
      s"vacuum missed partition-dir files: live=$live referenced=$referenced")
    assert(spark.table("graft.store").count() == 40)
  }

  test("dynamic partition overwrite: touched partitions swap, others survive by name") {
    val dir = freshDir("dynover")
    df(1 to 90, k => "g" + (k % 3))
      .repartition(4)
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    val root = new Path(dir)
    val before = StoreSink.readEntries(root, fs)
    val keepNames = before.filterNot(_.part.contains("g1")).map(_.name).toSet
    withConf(spark)("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      spark.conf.set(GraftCatalog.StorePathKey, dir)
      try {
        // reload only g1 with doubled amounts
        df(1 to 90, k => "g" + (k % 3)).where(col("grp") === "g1")
          .withColumn("amt_cents", col("amt_cents") * 2)
          .createOrReplaceTempView("dyn_in")
        spark.sql("INSERT OVERWRITE graft.store SELECT k, grp, amt_cents FROM dyn_in")
        val after = StoreSink.readEntries(root, fs)
        assert(after.filterNot(_.part.contains("g1")).map(_.name).toSet == keepNames,
          "untouched partitions must carry over by name")
        assert(after.filter(_.part.contains("g1")).map(_.name).toSet
          .intersect(before.filter(_.part.contains("g1")).map(_.name).toSet).isEmpty,
          "the reloaded partition must be fresh files")
        val t = spark.read.format(fmt).option("path", dir).load()
        assert(t.where(col("grp") === "g1").agg(sum(col("amt_cents")))
          .collect()(0).getLong(0) ==
          (1 to 90).filter(_ % 3 == 1).map(_ * 200L).sum)
        assert(t.count() == 90)
        // an empty dynamic overwrite commits NO new generation
        val versionsBefore = StoreSink.listVersions(root, fs).size
        spark.sql("INSERT OVERWRITE graft.store SELECT k, grp, amt_cents FROM dyn_in WHERE k < 0")
        assert(StoreSink.listVersions(root, fs).size == versionsBefore,
          "empty dynamic overwrite must not commit a version")
        assert(t.count() == 90)
      } finally {
        spark.conf.unset(GraftCatalog.StorePathKey)
      }
    }
    // STATIC contrast: a plain overwrite replaces everything
    df(1 to 9, _ => "g1").write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    assert(spark.read.format(fmt).option("path", dir).load().count() == 9)
  }

  test("atomic multi-partition DROP: one swap, all-or-nothing") {
    val dir = freshDir("atomicdrop")
    df(1 to 90, k => "g" + (k % 3))
      .repartition(4)
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    val root = new Path(dir)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      val versionsBefore = StoreSink.listVersions(root, fs).size
      // a drop list naming a MISSING partition drops nothing
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store DROP PARTITION (grp='g1'), PARTITION (grp='nope')")
      }
      assert(spark.table("graft.store").count() == 90,
        "failed multi-drop must leave every partition")
      // two partitions leave in ONE manifest swap
      spark.sql("ALTER TABLE graft.store DROP PARTITION (grp='g0'), PARTITION (grp='g2')")
      assert(StoreSink.listVersions(root, fs).size == versionsBefore + 1,
        "multi-partition drop must be one commit")
      val left = spark.table("graft.store")
      assert(left.count() == (1 to 90).count(_ % 3 == 1))
      assert(left.select("grp").distinct().collect().map(_.getString(0)).toSeq == Seq("g1"))
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("delta MERGE on a bucketed store: masks + routed appends keep the " +
       "storage-partitioned join exchange-free") {
    val ctas = freshDir("ctasdelta")
    withConf(spark)(
      GraftCatalog.CtasDirKey -> ctas,
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql("DROP TABLE IF EXISTS graft.spj_c")
      spark.sql("DROP TABLE IF EXISTS graft.spj_d")
      df(1 to 200, k => "g" + (k % 3)).createOrReplaceTempView("spj_delta_src")
      spark.sql(
        """CREATE TABLE graft.spj_c PARTITIONED BY (bucket(4, k))
          |AS SELECT * FROM spj_delta_src""".stripMargin)
      spark.sql(
        """CREATE TABLE graft.spj_d PARTITIONED BY (bucket(4, k))
          |AS SELECT k, grp, amt_cents * 2 AS amt_cents
          |FROM spj_delta_src WHERE k <= 120""".stripMargin)
      val rootC = new Path(s"$ctas/spj_c")
      val seedNames = StoreSink.readEntries(rootC, fs).map(_.name)
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try spark.sql(
        """MERGE INTO graft.spj_c t USING (
          |  SELECT CAST(10 AS BIGINT) AS k, 'u' AS grp, CAST(999 AS BIGINT) AS amt_cents
          |  UNION ALL
          |  SELECT CAST(500 AS BIGINT), 'n', CAST(7 AS BIGINT)) s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET amt_cents = s.amt_cents
          |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents) VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
      finally spark.conf.unset("spark.graft.store.rowlevel.mode")
      val after = StoreSink.readEntries(rootC, fs)
      // merge-on-read under partitioning: seed files survive by name, the
      // masked entry keeps its partition value, and the appended files
      // routed into their bucket dirs with manifest-carried values
      assert(seedNames.forall(after.map(_.name).contains),
        s"delta merge rewrote a bucketed file: ${after.map(_.name)}")
      assert(after.exists(_.eq.isDefined), "no equality mask attached")
      assert(after.forall(_.part.isDefined),
        s"an appended file lost its partition value: ${after.map(_.line)}")
      // the SPJ still plans with zero exchanges over the masked layout
      // (the bucket now holds >1 file, so only the ordering claim withdraws)
      val j = spark.table("graft.spj_c").as("a")
        .join(spark.table("graft.spj_d").as("b"), "k")
        .select(col("k"), col("a.amt_cents").as("x"), col("b.amt_cents").as("y"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"masked bucketed store join shuffles:\n$plan")
      val rows = j.collect()
      assert(rows.length == 120, s"join row count drifted: ${rows.length}")
      val k10 = rows.find(_.getLong(0) == 10L).get
      assert(k10.getLong(1) == 999L && k10.getLong(2) == 2000L,
        "the delta update did not surface through the SPJ")
      spark.sql("DROP TABLE graft.spj_c")
      spark.sql("DROP TABLE graft.spj_d")
    }
  }
}
