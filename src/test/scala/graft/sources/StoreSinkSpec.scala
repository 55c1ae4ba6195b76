package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** graft-store DSv2 writer (StoreSink.scala): the transactional properties
  * the sink_dsv2 oracle's happy path can't show — abort leaves the previous
  * committed generation intact, overwrite swaps and GCs atomically via the
  * manifest, and readers plan ONLY from the manifest (stray files are
  * invisible).
  */
class StoreSinkSpec extends SparkSpec {

  private val fmt = "graft.sources.StoreSink"
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def df(ks: Range, grp: String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k.toLong, grp, k.toLong * 100)).toDF("k", "grp", "amt_cents")
  }

  private def readBack(dir: String): Set[(Long, String, Long)] =
    spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** (files in the manifest, files planned) over every store scan `body` ran. */
  private def filesOf(body: => Any): (Long, Long) = scansOf(body).plannedFiles

  /** The aggregate functions the manifest answered for `body`'s queries. */
  private def aggPushOf(body: => Any): Option[String] = scansOf(body).aggPush

  private def freshDir(name: String): String = {
    val dir = s"target/tmp/storesink_spec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  test("overwrite round-trips; append unions; overwrite replaces, vacuum GCs") {
    val dir = freshDir("modes")
    df(1 to 50, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    assert(readBack(dir) == (1 to 50).map(k => (k.toLong, "a", k * 100L)).toSet)

    df(51 to 80, "b").write.format(fmt).mode("append").option("path", dir).save()
    assert(readBack(dir).size == 80)

    val genOne = StoreSink.readManifest(new Path(dir), fs)
    df(1 to 5, "c").write.format(fmt).mode("overwrite").option("path", dir).save()
    assert(readBack(dir) == (1 to 5).map(k => (k.toLong, "c", k * 100L)).toSet)
    // the replaced generation SURVIVES the swap (archived versions still
    // reference it — time travel); the explicit vacuum is the GC
    genOne.foreach(f => assert(fs.exists(new Path(dir, f)),
      s"file $f of an archived version was deleted by a write"))
    StoreSink.vacuum(dir, 1)
    genOne.foreach(f => assert(!fs.exists(new Path(dir, f)),
      s"stale file $f survived the vacuum"))
  }

  test("failed job aborts cleanly: previous generation intact, staging gone") {
    val dir = freshDir("abort")
    df(1 to 30, "keep").write.format(fmt).mode("overwrite").option("path", dir).save()
    val before = readBack(dir)

    val boom = udf((k: Long) => if (k == 7L) throw new RuntimeException("boom") else k)
    val bad = df(1 to 30, "bad").withColumn("k", boom(col("k")))
    intercept[Exception] {
      bad.write.format(fmt).mode("overwrite").option("path", dir).save()
    }
    assert(readBack(dir) == before, "aborted write mutated the committed state")
    // abort removes its own staged FILES; the empty dir may remain (the
    // lockless empty-dir delete was a check-then-act race against a
    // concurrent writer's first staged file — commit paths, which hold the
    // commit lock, do the dir removal)
    val staging = new Path(dir, StoreSink.Staging)
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "aborted write leaked staged files")
  }

  test("readers plan from the manifest only — stray files are invisible") {
    val dir = freshDir("stray")
    df(1 to 10, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    val stray = new Path(dir, "part-stray-file")
    val out = fs.create(stray, true)
    out.write("999,zzz,999\n".getBytes("UTF-8")); out.close()
    assert(readBack(dir) == (1 to 10).map(k => (k.toLong, "a", k * 100L)).toSet)
  }

  test("streaming write: epoch-keyed commits, ledger absorbs a replayed epoch") {
    import spark.implicits._
    val base = freshDir("epochs")
    val feed = s"$base/feed"; val store = s"$base/store"; val chk = s"$base/chk"
    (1 to 90).map(k => (k.toLong, "g" + (k % 3), k * 10L))
      .toDF("k", "grp", "amt_cents")
      .repartition(3).write.mode("overwrite").parquet(feed)
    val schema = spark.read.parquet(feed).schema
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(feed)
        .writeStream.format(fmt)
        .option("path", store).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val root = new Path(store)
    val lines = StoreSink.readManifestLines(root, fs)
    assert(StoreSink.committedEpochs(lines).size >= 3,
      s"expected one ledger entry per micro-batch, manifest:\n${lines.mkString("\n")}")
    assert(readBack(store).size == 90)

    // re-deliver the last epoch: drop its commit marker, keep its offsets
    val commits = fs.listStatus(new Path(s"$chk/commits"))
      .map(_.getPath).filter(_.getName.forall(_.isDigit))
    fs.delete(commits.maxBy(_.getName.toLong), false)
    runOnce()
    assert(readBack(store) ==
      (1 to 90).map(k => (k.toLong, "g" + (k % 3), k * 10L)).toSet,
      "replayed epoch double-counted or dropped rows")
  }

  test("deleteWhere rewrites only touched files; untouched carry over by name") {
    val dir = freshDir("delete")
    df(1 to 50, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    df(51 to 80, "b").write.format(fmt).mode("append").option("path", dir).save()
    val before = StoreSink.readManifest(new Path(dir), fs)

    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("grp", "b")))

    val after = StoreSink.readManifest(new Path(dir), fs)
    assert(readBack(dir) == (1 to 50).map(k => (k.toLong, "a", k * 100L)).toSet)
    // copy-on-write at file granularity: files with no 'b' rows keep their
    // name (zero bytes rewritten); files that held 'b' rows are replaced
    val (kept, replaced) = before.partition(after.contains)
    assert(kept.nonEmpty, "expected at least one untouched file to carry over")
    assert(replaced.nonEmpty, "expected the matching files to be rewritten")
    // replaced files persist for archived versions; vacuum removes them
    StoreSink.vacuum(dir, 1)
    replaced.foreach(f => assert(!fs.exists(new Path(dir, f)),
      s"replaced file $f survived the vacuum"))
    assert(readBack(dir) == (1 to 50).map(k => (k.toLong, "a", k * 100L)).toSet,
      "vacuum mutated the current state")
  }

  test("delete with a null-valued predicate column: UNKNOWN rows survive") {
    import spark.implicits._
    val dir = freshDir("delnull")
    Seq((Some(1L), Some("x"), Some(5L)), (Some(2L), None, Some(6L)),
        (Some(3L), Some("y"), Some(7L)))
      .toDF("k", "grp", "amt_cents")
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("grp", "x")))
    // grp IS NULL evaluates UNKNOWN — the row must NOT be deleted
    val got = spark.read.format(fmt).option("path", dir).load()
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(2L, 3L))
  }

  test("failed delete aborts with the previous generation intact") {
    val dir = freshDir("delabort")
    df(1 to 40, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    df(41 to 60, "b").write.format(fmt).mode("append").option("path", dir).save()
    val before = readBack(dir)
    val manifestBefore = StoreSink.readManifestLines(new Path(dir), fs)
    StoreSink.failDeleteAfterOneFile = true
    try intercept[RuntimeException] {
      new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.GreaterThan("k", 10L)))
    } finally StoreSink.failDeleteAfterOneFile = false
    assert(StoreSink.readManifestLines(new Path(dir), fs) == manifestBefore,
      "failed delete mutated the manifest")
    assert(readBack(dir) == before, "failed delete mutated visible rows")
  }

  test("untranslatable delete predicates are declined, not half-applied") {
    val dir = freshDir("deldecline")
    df(1 to 20, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    val t = new StoreTable(dir)
    assert(!t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.StringContains("grp", "a"))))
    assert(t.canDeleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array(1L, 2L)),
      org.apache.spark.sql.sources.IsNotNull("grp"))))
  }

  test("row-level UPDATE and MERGE INTO rewrite copy-on-write via the manifest") {
    import spark.implicits._
    val dir = freshDir("rowlevel")
    df(1 to 30, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    val genOne = StoreSink.readManifest(new Path(dir), fs)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("UPDATE graft.store SET amt_cents = amt_cents + 1 WHERE k <= 10")
      assert(readBack(dir) == (1 to 30).map(k =>
        (k.toLong, "a", k * 100L + (if (k <= 10) 1 else 0))).toSet,
        "UPDATE arithmetic wrong")
      // the runtime group filter + zone maps make the rewrite
      // FILE-GRANULAR: files whose zones miss k <= 10 carry over by name
      val afterUpd = StoreSink.readManifest(new Path(dir), fs)
      assert(genOne.exists(f => !afterUpd.contains(f)),
        "no file was replaced by the UPDATE")
      assert(genOne.exists(afterUpd.contains),
        s"UPDATE rewrote every file — group filtering inert\nbefore=$genOne\nafter=$afterUpd")

      Seq((2L, "D"), (31L, "I")).toDF("k", "op").createOrReplaceTempView("spec_cdc")
      spark.sql("""MERGE INTO graft.store t USING spec_cdc s ON t.k = s.k
                  |WHEN MATCHED AND s.op = 'D' THEN DELETE
                  |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents) VALUES (s.k, 'i', 0)""".stripMargin)
      val got = readBack(dir)
      assert(!got.exists(_._1 == 2L), "MERGE delete clause did not apply")
      assert(got.exists(r => r._1 == 31L && r._2 == "i"), "MERGE insert missing")
      assert(got.size == 30)
    } finally {
      spark.catalog.dropTempView("spec_cdc")
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("zone maps: pushed key bounds skip whole files; DPP narrows via join keys") {
    val dir = freshDir("zones")
    // two appends with disjoint key ranges → disjoint per-file zones
    df(1 to 40, "a").repartition(2).write.format(fmt).mode("overwrite").option("path", dir).save()
    df(1000 to 1040, "b").repartition(2).write.format(fmt).mode("append").option("path", dir).save()
    val all = spark.read.format(fmt).option("path", dir).load()

    val low = all.where(col("k") < 100)
    val (planned, kept) = filesOf(assert(low.count() == 40))
    assert(planned > kept && kept <= 2,
      s"zone maps did not skip the high-range files: planned=$planned kept=$kept")
    val p = low.queryExecution.executedPlan.toString
    assert(p.contains("zones=["), s"pushed bounds not visible in the scan:\n$p")

    // runtime filtering: a selective broadcast dim prunes planning to the
    // zones its realized keys land in (the dim filter is runtime-only)
    val dim = spark.range(0, 4).select((col("id") + 1000).as("dk"))
      .where(col("dk") % 2 === 0)
    val j = all.join(org.apache.spark.sql.functions.broadcast(dim),
                     col("k") === col("dk"))
    val (p2, k2) = filesOf(assert(j.count() == 2))
    assert(k2 < p2, s"runtime keys did not narrow planning: $p2 -> $k2")
  }

  test("runtime bloom pruning: realized grp join values skip files; an " +
       "absent value plans zero") {
    import spark.implicits._
    val dir = freshDir("rtbloom")
    // grp-homogeneous files: two per grp
    df(1 to 40, "a").repartition(2).write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    df(41 to 80, "b").repartition(2).write.format(fmt).mode("append")
      .option("path", dir).save()
    val all = spark.read.format(fmt).option("path", dir).load()
    // dim realizes exactly "b" at RUNTIME: the selective predicate is on
    // `id`, so no static grp constant can be inferred — and a Range dim
    // (not a LocalRelation) is what DPP's injection heuristic accepts
    val dim = spark.range(0, 2)
      .select(col("id"), expr("case when id = 0 then 'a' else 'b' end").as("dgrp"))
      .where(col("id") % 2 === 1)
    val j = all.join(org.apache.spark.sql.functions.broadcast(dim),
                     col("grp") === col("dgrp"))
    val joined = scansOf(assert(j.count() == 40))
    assert(joined.described("runtimeFilters=[grp]"),
      s"no runtime grp filter was injected: ${joined.scans.map(_.scan.description())}")
    val (t1, p1) = joined.plannedFiles
    assert(t1 == 4 && p1 == 2,
      s"realized grp values must prune via the blooms: $p1/$t1")
    // an absent realized value prunes EVERY file
    val dimAbsent = spark.range(0, 2)
      .select(col("id"), expr("case when id = 0 then 'zz' else 'b' end").as("dgrp"))
      .where(col("id") % 2 === 0)
    val j0 = all.join(org.apache.spark.sql.functions.broadcast(dimAbsent),
                      col("grp") === col("dgrp"))
    val (t0, p0) = filesOf(assert(j0.count() == 0))
    assert(t0 == 4 && p0 == 0,
      s"absent realized value must plan zero files: $p0/$t0")
  }

  test("row-level MERGE rewrites only the files whose zones hold matched keys") {
    import spark.implicits._
    val dir = freshDir("groupfilter")
    df(1 to 40, "a").repartition(1).write.format(fmt).mode("overwrite").option("path", dir).save()
    df(1000 to 1040, "b").repartition(1).write.format(fmt).mode("append").option("path", dir).save()
    val before = StoreSink.readManifest(new Path(dir), fs)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      // CDC touches only the low-range file's zone
      Seq((5L, 999L)).toDF("k", "amt").createOrReplaceTempView("spec_zone_cdc")
      spark.sql("""MERGE INTO graft.store t USING spec_zone_cdc s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET amt_cents = s.amt""".stripMargin)
      val after = StoreSink.readManifest(new Path(dir), fs)
      val carried = before.filter(after.contains)
      assert(carried.nonEmpty,
        s"file-granular COW expected: untouched zones must carry over\nbefore=$before\nafter=$after")
      val got = readBack(dir)
      assert(got.exists(r => r._1 == 5L && r._3 == 999L), "MERGE update lost")
      assert(got.size == 81)
      assert(got.count(_._2 == "b") == 41, "untouched zone mutated")
    } finally {
      spark.catalog.dropTempView("spec_zone_cdc")
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("streaming tail: new entries arrive as new batches, restart resumes, rewrite detected") {
    val base = freshDir("tail")
    val store = s"$base/store"; val out = s"$base/out"; val chk = s"$base/chk"
    def run(): Unit = {
      val q = spark.readStream.format(fmt).option("path", store).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    df(1 to 20, "a").write.format(fmt).mode("overwrite").option("path", store).save()
    StoreSink.tailPlans.clear()
    run()
    assert(spark.read.parquet(out).count() == 20)
    df(21 to 30, "b").write.format(fmt).mode("append").option("path", store).save()
    run() // restart from the committed file index: only the NEW entries
    val got = spark.read.parquet(out)
    assert(got.count() == 30 && got.select(col("k")).distinct().count() == 30,
      "tail restart re-read or skipped manifest entries")
    import scala.jdk.CollectionConverters._
    val plans = StoreSink.tailPlans.asScala.filter(p => p._2 > p._1)
    assert(plans.nonEmpty && plans.forall(p => p._1 > 0 || plans.head == p),
      s"batches must tile the manifest without overlap: $plans")

    // history rewrite mid-tail: the manifest shrinks below the consumed
    // prefix — the tail must fail loudly, never silently re-read
    df(1 to 3, "c").write.format(fmt).mode("overwrite").option("path", store).save()
    intercept[Exception] { run() }
  }

  test("streaming tail: a COUNT-PRESERVING in-place rewrite is detected") {
    // a copy-on-write DELETE substitutes manifest lines IN PLACE (entry
    // count unchanged) — the offset's prefix signature, not the count, is
    // what catches it
    val base = freshDir("tailsub")
    val store = s"$base/store"; val out = s"$base/out"; val chk = s"$base/chk"
    def run(): Unit = {
      val q = spark.readStream.format(fmt).option("path", store).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    df(1 to 20, "a").write.format(fmt).mode("overwrite").option("path", store).save()
    run()
    assert(spark.read.parquet(out).count() == 20)
    // rewrite a consumed file in place: SupportsDelete's COW swaps the
    // matching file for its filtered sibling — same entry count
    spark.conf.set(GraftCatalog.StorePathKey, store)
    try spark.sql("DELETE FROM graft.store WHERE k = 1")
    finally spark.conf.unset(GraftCatalog.StorePathKey)
    // new arrivals give the resumed tail a window to plan — it must refuse
    df(21 to 25, "b").write.format(fmt).mode("append").option("path", store).save()
    val ex = intercept[Exception] { run() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("history rewritten")),
      s"expected the loud prefix-identity failure, got: $ex")
  }

  test("time travel: snapshots are read-only; vacuum expires versions and GCs files") {
    val dir = freshDir("timetravel")
    df(1 to 20, "a").write.format(fmt).mode("overwrite").option("path", dir).save()   // v1
    df(21 to 30, "b").write.format(fmt).mode("append").option("path", dir).save()     // v2
    df(1 to 5, "c").write.format(fmt).mode("overwrite").option("path", dir).save()    // v3
    val root = new Path(dir)
    assert(StoreSink.listVersions(root, fs) == Seq(1, 2, 3))

    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      assert(spark.sql("SELECT COUNT(*) FROM graft.store VERSION AS OF 1")
        .collect()(0).getLong(0) == 20)
      assert(spark.sql("SELECT COUNT(*) FROM graft.store VERSION AS OF 2")
        .collect()(0).getLong(0) == 30)
      assert(spark.sql("SELECT COUNT(*) FROM graft.store").collect()(0).getLong(0) == 5)
      // v2's files survive the v3 overwrite — that is what time travel buys
      intercept[Exception] {
        spark.sql("UPDATE graft.store VERSION AS OF 1 SET amt_cents = 0").collect()
      }

      StoreSink.vacuum(dir, 1)
      assert(StoreSink.listVersions(root, fs) == Seq(3))
      intercept[Exception] {
        spark.sql("SELECT COUNT(*) FROM graft.store VERSION AS OF 1").collect()
      }
      // only the current generation's files survive the vacuum
      val live = StoreSink.readManifest(root, fs).toSet
      val onDisk = fs.listStatus(root).map(_.getPath.getName)
        .filter(_.startsWith("part-")).toSet
      assert(onDisk == live, s"vacuum left unreferenced files: ${onDisk.diff(live)}")
      assert(spark.sql("SELECT COUNT(*) FROM graft.store").collect()(0).getLong(0) == 5)
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("manifest tree: segments reuse across commits, prune planning, GC with versions") {
    val dir = freshDir("manifesttree")
    val root = new Path(dir)
    // 64 range-clustered files → the list seals 4 segments of 16, 0 loose
    import spark.implicits._
    (1 to 6400).map(k => (k.toLong, s"g${k % 4}", k.toLong))
      .toDF("k", "grp", "amt_cents")
      .repartitionByRange(64, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    def listLines() = StoreSink.readListLines(root, fs)
      .filterNot(_.startsWith("#")) // drop the ts ledger / epoch markers
    def segsOf(lines: Seq[String]) = lines.filter(_.startsWith("@seg|"))
      .map(StoreSink.parseSeg(_).name)
    val segs1 = segsOf(listLines())
    assert(segs1.size == 4 && listLines().size == 4,
      s"expected 4 sealed segments and nothing loose, got: ${listLines()}")

    // point query: only the one zone-matched segment is READ during planning
    val point = scansOf {
      assert(spark.read.format(fmt).option("path", dir).load()
        .where(col("k").between(10, 20)).count() == 11)
    }
    val (segsTotal, segsRead) = (point.sum("manifestSegments"), point.sum("segmentsRead"))
    assert(segsTotal == 4 && segsRead == 1,
      s"point planning must read 1 of 4 segments, read $segsRead")

    // append: every sealed segment carries over BY POINTER — the commit
    // rewrote only the list (plus nothing: 1 loose line < SegTarget)
    df(6401 to 6405, "x").repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save()
    val after = listLines()
    assert(segsOf(after) == segs1, "append must not touch sealed segments")
    assert(after.size == 5, s"append = 4 pointers + 1 loose line: $after")

    // COW delete of one key invalidates exactly its containing segment:
    // the other 3 original pointers survive verbatim
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try spark.sql("DELETE FROM graft.store WHERE k = 5000")
    finally spark.conf.unset(GraftCatalog.StorePathKey)
    val segs3 = segsOf(listLines())
    assert(segs1.intersect(segs3).size == 3,
      s"a one-file COW must reseal exactly one segment: before=$segs1 after=$segs3")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 6404)

    // version archives SHARE segments; vacuum GCs segments with the last
    // list that references them
    val segsOnDisk = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(StoreSink.SegPrefix)).toSet
    assert(segsOnDisk == (segs1 ++ segs3).toSet,
      "history must share unchanged segments, not copy them")
    StoreSink.vacuum(dir, 1)
    val segsLive = fs.listStatus(root).map(_.getPath.getName)
      .filter(_.startsWith(StoreSink.SegPrefix)).toSet
    assert(segsLive == segs3.toSet,
      s"vacuum must GC segments only the expired versions referenced: $segsLive")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 6404)
  }

  test("aggregate pushdown answers from the manifest — zero data files planned") {
    val dir = freshDir("aggpush")
    df(1 to 40, "a").repartition(4).write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    df(41 to 60, "b").repartition(2).write.format(fmt).mode("append")
      .option("path", dir).save()
    val t = spark.read.format(fmt).option("path", dir).load()

    val q = t.agg(count(lit(1)), min(col("k")), max(col("k")))
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((60L, 1L, 60L)))
    assert(ScanMetrics(q).aggPush.contains("count,min,max"),
      "unfiltered COUNT/MIN/MAX must be metadata-answered")
    assert(q.queryExecution.executedPlan.toString.contains("GraftStoreAggScan"),
      "executed plan must carry the metadata agg scan — no file partitions")

    // a pinned snapshot answers from ITS version's metadata
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      assert(aggPushOf(assert(spark.sql("SELECT COUNT(*) FROM graft.store VERSION AS OF 1")
        .collect()(0).getLong(0) == 40)).contains("count"))
    } finally spark.conf.unset(GraftCatalog.StorePathKey)

    // residual filters make metadata unsafe: decline, fall back, agree
    assert(aggPushOf(assert(t.where(col("grp") === "b").agg(count(lit(1)))
      .collect()(0).getLong(0) == 20)).isEmpty, "filtered aggregate must decline")

    // COUNT(col) (null-sensitive) is not answerable from row counts
    assert(aggPushOf(assert(t.agg(count(col("grp"))).collect()(0).getLong(0) == 60))
      .isEmpty, "COUNT(col) must decline")
  }

  test("_file metadata column: provenance on request, absent from SELECT *") {
    val dir = freshDir("metacol")
    df(1 to 10, "a").repartition(1).write.format(fmt).mode("overwrite").option("path", dir).save()
    df(11 to 20, "b").repartition(1).write.format(fmt).mode("append").option("path", dir).save()
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(t.columns.toSeq == Seq("k", "grp", "amt_cents"),
      "metadata column must not appear in the table schema")
    val withFile = t.select(col("k"), col("grp"), col("_file"))
    val files = withFile.collect().map(r => (r.getString(1), r.getString(2)))
    val manifest = StoreSink.readManifest(new Path(dir), fs).toSet
    assert(files.map(_._2).toSet == manifest,
      "_file must name exactly the committed manifest entries")
    // rows of one commit share one file; the two commits differ
    val byGrp = files.groupBy(_._1).map { case (g, fs) => g -> fs.map(_._2).toSet }
    assert(byGrp("a").size == 1 && byGrp("b").size == 1 && byGrp("a") != byGrp("b"))
  }

  test("_pos metadata column: physical ordinals, stable under MoR deletes, " +
       "both at-rest encodings") {
    import spark.implicits._
    for (columnar <- Seq(false, true)) {
      val dir = freshDir(s"metapos_$columnar")
      if (columnar) StoreSink.setProp(dir, StoreSink.EncodingProp, "columnar")
      (0 until 40).map(i => (i.toLong, "a", i * 2L)).toDF("k", "grp", "amt_cents")
        .repartition(1).sortWithinPartitions("k")
        .write.format(fmt).mode("append").option("path", dir).save()
      def t() = spark.read.format(fmt).option("path", dir).load()
        .select(col("k"), col("_pos"))
      // one k-sorted file: _pos == k exactly
      assert(t().collect().forall(r => r.getLong(0) == r.getLong(1)),
        s"columnar=$columnar: _pos must be the physical ordinal")
      // MoR delete: survivors keep their PHYSICAL positions (holes, not
      // renumbering — the ordinal space dv masks address)
      spark.conf.set(GraftCatalog.StorePathKey, dir)
      try spark.sql("DELETE FROM graft.store WHERE k = 7")
      finally spark.conf.unset(GraftCatalog.StorePathKey)
      val after = t().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!after.exists(_._1 == 7L) && after.forall(p => p._1 == p._2),
        s"columnar=$columnar: _pos must not renumber under a dv delete")
    }
  }

  test("zone-prune effectiveness is a per-scan SQL metric") {
    val dir = freshDir("metrics")
    df(1 to 40, "a").repartition(2).write.format(fmt).mode("overwrite").option("path", dir).save()
    df(1000 to 1040, "b").repartition(2).write.format(fmt).mode("append").option("path", dir).save()
    val q = spark.read.format(fmt).option("path", dir).load()
      .where(col("k") < 100)
    // an aggregate adds an exchange, so the scan sits under the adaptive
    // plan's query stages — the walker reaches it there too
    val agg = q.groupBy(col("grp")).count()
    Seq(q, agg).foreach { d =>
      d.collect()
      val metrics = ScanMetrics(d).scans.head.metrics
      assert(metrics.contains("manifestFiles") && metrics.contains("plannedFiles"),
        s"custom metrics missing: ${metrics.keys}")
      assert(ScanMetrics(d).plannedFiles == ((4L, 2L)),
        s"expected 4 manifest / 2 planned, got ${ScanMetrics(d).plannedFiles}")
    }
    assert(agg.queryExecution.executedPlan.getClass.getSimpleName == "AdaptiveSparkPlanExec")
  }

  test("concurrent scans each report their own planning on their own plan") {
    val dir = freshDir("isolation")
    // four 10-row files: a point probe plans one, a LIMIT 15 cut plans two
    df(1 to 40, "a").repartitionByRange(4, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    def store = spark.read.format(fmt).option("path", dir).load()
    (1 to 3).foreach { round =>
      val point = store.where(col("k") === 5L)
      val limited = store.limit(15)
      val (np, nl) = StoreSink.inParallel(point.collect().length)(limited.collect().length)
      assert(np == 1 && nl == 15)
      def seen(d: DataFrame) = {
        val m = ScanMetrics(d)
        (m.plannedFiles, (m.sum("partKeptFiles"), m.sum("limitKeptFiles")))
      }
      assert(seen(point) == (((4L, 1L), (1L, 0L))), s"round $round point: ${seen(point)}")
      assert(seen(limited) == (((4L, 2L), (4L, 2L))), s"round $round limit: ${seen(limited)}")
    }
  }

  test("null columns and URL-unsafe strings round-trip") {
    import spark.implicits._
    val dir = freshDir("nulls")
    val rows = Seq(
      (Some(1L), Some("a,b\nc%d"), Some(5L)),
      (None, Some("\\N"), None),
      (Some(3L), None, Some(-7L)))
    rows.toDF("k", "grp", "amt_cents")
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val got = spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(got == rows.map { case (k, g, a) => (k, g, a) }.toSet)
  }

  test("compact: fewer disjoint files, same content, ledger + snapshots survive") {
    val dir = freshDir("compact")
    df(1 to 400, "a").repartition(8, col("k")) // hash scatter: overlapping zones
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val root = new Path(dir)
    val before = readBack(dir)
    // pretend a streaming writer committed epoch 5 (the ledger a compaction
    // must NOT reset — replayed-epoch idempotence outlives maintenance)
    StoreSink.writeManifestAtomic(root, fs,
      StoreSink.readManifestLines(root, fs) :+ StoreSink.epochLine(5L))
    val preVersion = StoreSink.listVersions(root, fs).last
    val (nBefore, nAfter) = StoreSink.compact(spark, dir, 100)
    assert(nBefore == 8 && nAfter == 4, s"expected 8 -> 4 files, got $nBefore -> $nAfter")
    assert(readBack(dir) == before, "compaction changed table content")
    val entries = StoreSink.readEntries(root, fs)
    val zones = entries.flatMap(e => e.minK.zip(e.maxK)).sortBy(_._1)
    assert(zones.size == 4 &&
      zones.zip(zones.drop(1)).forall { case ((_, a), (b, _)) => a < b },
      s"compacted zones overlap: $zones")
    assert(StoreSink.committedEpochs(StoreSink.readManifestLines(root, fs)) == Set(5L),
      "compaction dropped the streaming epoch ledger")
    // the fragmented generation is still one VERSION AS OF away
    val pre = StoreSink.readVersionLines(root, fs, preVersion)
      .filterNot(_.startsWith("#")).map(StoreSink.parseEntry(_).name)
    assert(pre.size == 8 && pre.forall(f => fs.exists(new Path(dir, f))),
      "pre-compact snapshot files were GC'd by the compaction commit")
  }

  test("grp bloom: point predicates skip files; an absent value plans zero") {
    val dir = freshDir("bloom")
    Seq("a" -> (1 to 100), "b" -> (101 to 200), "c" -> (201 to 300)).foreach {
      case (g, ks) => df(ks, g).repartition(1)
        .write.format(fmt).mode("append").option("path", dir).save()
    }
    def load = spark.read.format(fmt).option("path", dir).load()
    val b = filesOf(assert(load.where(col("grp") === "b").agg(count(lit(1)))
      .collect()(0).getLong(0) == 100))
    assert(b == ((3L, 1L)), s"bloom should plan 1 of 3 files for grp='b', got $b")
    val absent = filesOf(assert(load.where(col("grp") === "zz").count() == 0))
    assert(absent == ((3L, 0L)), s"absent grp literal should plan zero files, got $absent")
    // blooms prune files, never rows: an IN over two grps keeps both files
    assert(filesOf(assert(load.where(col("grp").isin("a", "c")).count() == 200))
      == ((3L, 2L)))
  }

  test("changes: net row diff between versions, updates as delete+insert pairs") {
    val dir = freshDir("cdf")
    df(1 to 100, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    df(101 to 120, "b").repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save() // v2
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.LessThanOrEqual("k", 10L))) // v3
    def feed(from: Int, to: Option[Int]): Map[String, Set[Long]] =
      StoreSink.changes(spark, dir, from, to).collect()
        .groupBy(_.getString(0)).map { case (op, rs) => op -> rs.map(_.getLong(1)).toSet }
    val w12 = feed(1, Some(2))
    assert(w12.getOrElse("insert", Set()) == (101L to 120L).toSet && !w12.contains("delete"))
    val w23 = feed(2, Some(3))
    assert(w23.getOrElse("delete", Set()) == (1L to 10L).toSet && !w23.contains("insert"),
      s"carried-over rows must cancel out of the feed: $w23")
    val w13 = feed(1, None)
    assert(w13.getOrElse("insert", Set()) == (101L to 120L).toSet &&
           w13.getOrElse("delete", Set()) == (1L to 10L).toSet)
    // file granularity, merge-on-read: the selective (10%) delete must not
    // rewrite any data file — it vectors exactly the one file holding the
    // matched keys (same names, one changed token), and the CDF above saw
    // the deletion through the vector diff
    val root = new Path(dir)
    def entriesOf(v: Int) = StoreSink.readVersionLines(root, fs, v)
      .filterNot(_.startsWith("#")).map(StoreSink.parseEntry)
    assert(entriesOf(2).map(_.name) == entriesOf(3).map(_.name),
      "selective delete must keep every data file (merge-on-read)")
    val tok2 = entriesOf(2).map(_.token); val tok3 = entriesOf(3).map(_.token)
    assert(tok2.diff(tok3).size == 1 && tok3.diff(tok2).size == 1,
      "k<=10 should have vectored exactly the one file holding those keys")
  }

  test("merge-on-read: a 1-row delete of an N-file table rewrites 0 data files") {
    val dir = freshDir("mor")
    val root = new Path(dir)
    df(1 to 80, "a").repartitionByRange(8, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val filesBefore = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && !n.contains(".dv-")).toSet
    def del(k: Long): Unit =
      new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("k", k)))
    del(5L)
    val filesAfter = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && !n.contains(".dv-")).toSet
    assert(filesAfter == filesBefore,
      "a single-row delete must not rewrite any data file")
    val e1 = StoreSink.readEntries(root, fs)
    assert(e1.count(_.dv.isDefined) == 1, s"expected one vectored entry: $e1")
    assert(readBack(dir) == (1 to 80).filter(_ != 5)
      .map(k => (k.toLong, "a", k * 100L)).toSet)
    // live row counts track the vector (COUNT pushdown stays exact; MIN/MAX
    // declines on vectored entries)
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(aggPushOf(assert(t.agg(count(lit(1))).collect()(0).getLong(0) == 79))
      .contains("count"))
    assert(aggPushOf(assert(t.agg(min(col("k"))).collect()(0).getLong(0) == 1))
      .isEmpty, "MIN must decline on vectored entries")
    // a second delete in the same file ACCUMULATES into a fresh vector
    del(7L)
    val e2 = StoreSink.readEntries(root, fs)
    assert(e2.count(_.dv.isDefined) == 1 &&
      e2.flatMap(_.dv) != e1.flatMap(_.dv), "vectors are immutable — new file")
    assert(readBack(dir).size == 78)
    // compaction absorbs vectors into clean files
    StoreSink.compact(spark, dir, 40)
    val e3 = StoreSink.readEntries(root, fs)
    assert(e3.forall(_.dv.isEmpty), "compaction must absorb deletion vectors")
    assert(readBack(dir).size == 78 && !readBack(dir).exists(r => r._1 == 5 || r._1 == 7))
    // vacuum GCs vectors referenced only by expired generations
    StoreSink.vacuum(dir, 1)
    val dvLeft = fs.listStatus(root).map(_.getPath.getName).filter(_.contains(".dv-"))
    assert(dvLeft.isEmpty, s"vacuum left orphan vectors: ${dvLeft.toSeq}")
    assert(readBack(dir).size == 78)
  }

  private def eqDel(dir: String, ks: Seq[Long]): Unit = {
    StoreSink.equalityDelete(dir, Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", ks.map(k => k: java.lang.Long).toArray)))
  }

  test("equality delete: keyed retraction touches zero data files, reads none") {
    val dir = freshDir("eqdel")
    val root = new Path(dir)
    df(1 to 80, "a").repartitionByRange(8, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val filesBefore = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && !n.contains(".eq-")).toSet
    eqDel(dir, Seq(5L, 25L))
    val filesAfter = fs.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith("part-") && !n.contains(".eq-")).toSet
    assert(filesAfter == filesBefore,
      "an equality delete must not write or rewrite any data file")
    val e1 = StoreSink.readEntries(root, fs)
    assert(e1.forall(_.dv.isEmpty), "equality mode must not read files for ordinals")
    val nEq = e1.count(_.eq.isDefined)
    assert(nEq >= 1 && nEq < e1.size,
      s"sidecars attach only to zone-matched files: $e1")
    assert(readBack(dir) == (1 to 80).filterNot(Set(5, 25))
      .map(k => (k.toLong, "a", k * 100L)).toSet)
    // rows is an UPPER BOUND on eq-vectored entries: every agg declines
    val t = spark.read.format(fmt).option("path", dir).load()
    assert(aggPushOf(assert(t.agg(count(lit(1))).collect()(0).getLong(0) == 78))
      .isEmpty, "COUNT must decline on equality-vectored entries")
    // a second keyed delete absorbs the previous sidecar into a fresh one
    eqDel(dir, Seq(7L))
    assert(readBack(dir).size == 77)
    // compaction absorbs equality sidecars into clean files
    StoreSink.compact(spark, dir, 40)
    assert(StoreSink.readEntries(root, fs).forall(_.eq.isEmpty),
      "compaction must absorb equality sidecars")
    assert(readBack(dir).size == 77 &&
      !readBack(dir).exists(r => Set(5L, 7L, 25L)(r._1)))
    assert(aggPushOf(assert(spark.read.format(fmt).option("path", dir).load()
      .agg(count(lit(1))).collect()(0).getLong(0) == 77)).contains("count"),
      "pushdown must resume once sidecars are absorbed")
    // vacuum GCs sidecars referenced only by expired generations
    StoreSink.vacuum(dir, 1)
    val eqLeft = fs.listStatus(root).map(_.getPath.getName).filter(_.contains(".eq-"))
    assert(eqLeft.isEmpty, s"vacuum left orphan eq sidecars: ${eqLeft.toSeq}")
  }

  test("equality + ordinal deletes compose; CDF nets the keyed retraction") {
    val dir = freshDir("eqmix")
    val root = new Path(dir)
    df(1 to 30, "a").repartitionByRange(3, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    eqDel(dir, Seq(3L, 5L, 25L)) // v2
    assert(readBack(dir).size == 27)
    // CDF sees the keyed retraction as deletes through the token diff
    val w12 = StoreSink.changes(spark, dir, 1, Some(2)).collect()
      .groupBy(_.getString(0)).map { case (op, rs) => op -> rs.map(_.getLong(1)).toSet }
    assert(w12.getOrElse("delete", Set()) == Set(3L, 5L, 25L) && !w12.contains("insert"),
      s"CDF must net the equality delete: $w12")
    // a later ordinal delete coexists with the key mask (both apply)
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 4L))) // v3: MoR — 1 live row of ~8
    val e3 = StoreSink.readEntries(root, fs)
    assert(e3.exists(e => e.dv.isDefined && e.eq.isDefined),
      s"ordinal vector and equality sidecar must coexist on one entry: $e3")
    assert(readBack(dir).size == 26 && !readBack(dir).exists(_._1 == 4L))
    // a COW rewrite of that file absorbs BOTH masks
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("k", Array[Any](1L, 2L)))) // v4: > 20% of live
    val e4 = StoreSink.readEntries(root, fs)
    assert(!e4.exists(e => e.dv.isDefined),
      s"the bulk delete should have rewritten the masked file clean: $e4")
    assert(e4.count(_.eq.isDefined) == 1,
      s"only the untouched file keeps its equality sidecar: $e4")
    assert(readBack(dir) == (1 to 30).filterNot(Set(1, 2, 3, 4, 5, 25))
      .map(k => (k.toLong, "a", k * 100L)).toSet)
  }

  test("streaming change feed plans mask DELTAS, not files: an equality " +
       "retraction or vector delete costs only the newly-dead rows") {
    val dir = freshDir("cdfplan")
    df(1 to 40, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    eqDel(dir, Seq(3L, 5L)) // v2: equality sidecar on the existing entry
    val stream = new StoreCdfStream(dir, StoreSink.cdfSchema(dir), Some(1))
    val p12 = stream.planInputPartitions(StoreCdfOffset(1), StoreCdfOffset(2))
      .map(_.asInstanceOf[StoreCdfPartition])
    assert(p12.length == 1 && p12(0).op == "delete" &&
           p12(0).onlyKeys.toSeq == Seq(3L, 5L) && p12(0).onlyOrdinals.isEmpty,
      s"eq retraction must plan ONE key-delta delete partition: ${p12.toSeq}")
    // merge-on-read ordinal delete → one ordinal-delta delete partition
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 7L))) // v3
    val p23 = stream.planInputPartitions(StoreCdfOffset(2), StoreCdfOffset(3))
      .map(_.asInstanceOf[StoreCdfPartition])
    assert(p23.length == 1 && p23(0).op == "delete" &&
           p23(0).onlyOrdinals.length == 1 && p23(0).onlyKeys.isEmpty,
      s"vector delete must plan ONE ordinal-delta delete partition: ${p23.toSeq}")
    // an append plans ONE insert partition; a multi-version window plans
    // each transition's work (restart from any committed offset replans
    // identically — offsets are just versions)
    df(41 to 50, "b").repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save() // v4
    val p34 = stream.planInputPartitions(StoreCdfOffset(3), StoreCdfOffset(4))
      .map(_.asInstanceOf[StoreCdfPartition])
    assert(p34.length == 1 && p34(0).op == "insert")
    val p14 = stream.planInputPartitions(StoreCdfOffset(1), StoreCdfOffset(4))
    assert(p14.length == 3, s"window must cover every transition: ${p14.length}")
    // BOTH masks growing on one file in one transition (no commit path does
    // this today, but nothing forbids a future one): a row dead under both
    // — ordinal in the dv delta AND key in the eq delta — must be emitted
    // exactly ONCE. The eq-delta partition skips the NEW vector (old ∪
    // delta), so the dv-delta partition owns the doubly-dead row.
    val root = new Path(dir)
    val seed = StoreSink.readEntries(root, fs).maxBy(_.rows) // the 40-row file
    val oldDv = seed.dv.map(d => StoreSink.readDv(root, fs, d).toSeq).getOrElse(Nil)
    val oldEq = seed.eq.map(q => StoreSink.readEq(root, fs, q).toSeq).getOrElse(Nil)
    val ord9 = { // physical line ordinal of the k=9 row
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(new Path(root, seed.name))))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .indexWhere(_.startsWith("9,"))
      finally in.close()
    }
    assert(ord9 >= 0 && !oldDv.contains(ord9))
    StoreSink.writeDv(root, fs, ".dv-cdfplan-t5", oldDv :+ ord9)
    StoreSink.writeEq(root, fs, ".eq-cdfplan-t5", oldEq ++ Seq(9L, 10L))
    val crafted = StoreSink.readManifestLines(root, fs).map { l =>
      if (!l.startsWith("#") && StoreSink.parseEntry(l).name == seed.name)
        seed.copy(dv = Some(".dv-cdfplan-t5"), eq = Some(".eq-cdfplan-t5")).line
      else l
    }
    StoreSink.writeManifestAtomic(root, fs, crafted) // v5: both masks grew
    val p45 = stream.planInputPartitions(StoreCdfOffset(4), StoreCdfOffset(5))
      .map(_.asInstanceOf[StoreCdfPartition])
    assert(p45.length == 2 && p45.forall(_.op == "delete"), s"${p45.toSeq}")
    val dvp = p45.find(_.onlyOrdinals.nonEmpty).get
    val eqp = p45.find(_.onlyKeys.nonEmpty).get
    assert(dvp.onlyOrdinals.toSeq == Seq(ord9) &&
           dvp.skipKeys.toSeq == oldEq.sorted)
    assert(eqp.onlyKeys.toSeq == Seq(9L, 10L))
    assert(eqp.skipOrdinals.toSeq == (oldDv :+ ord9).sorted,
      "the eq-delta partition must skip the NEW deletion vector — else the " +
        "doubly-dead row k=9 is emitted as a delete twice")
  }

  test("streaming change feed: AvailableNow drains terminate, restarts " +
       "resume from the committed version — each change exactly once") {
    import org.apache.spark.sql.streaming.Trigger
    val dir = freshDir("cdfresume")
    val out = freshDir("cdfresume_out")
    val chk = freshDir("cdfresume_chk")
    df(1 to 40, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    def drain(): Unit = {
      val q = spark.readStream.format(fmt)
        .option("path", dir).option("changeFeed", "true")
        .option("startingVersion", "0").load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain() // v1's seed arrives as inserts
    val got1 = spark.read.parquet(out)
    assert(got1.count() == 40 &&
           got1.where(col("op") === "insert" && col("cv") === 1).count() == 40)
    // more commits while nothing listens: a vector delete + an append
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 7L))) // v2: MoR
    df(41 to 50, "b").repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save() // v3
    drain() // resumes at v1: exactly the v2 delete + v3 inserts
    val got2 = spark.read.parquet(out)
    assert(got2.count() == 51, s"resume must not re-emit history: ${got2.count()}")
    assert(got2.where(col("op") === "delete").collect().toSeq
             .map(r => (r.getLong(r.fieldIndex("cv")), r.getLong(r.fieldIndex("k")))) ==
           Seq((2L, 7L)))
    assert(got2.where(col("op") === "insert" && col("cv") === 3).count() == 10)
  }

  test("optimistic retry: a DELETE losing the publish race recomputes " +
       "against the winner's state and lands on top of it") {
    val dir = freshDir("delretry")
    df(1 to 40, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    // in the window between OUR rewrite computation and its publish, a
    // CONCURRENT delete rewrites the same file and wins the race — once
    var fired = false
    StoreSink.onDeleteComputed = () => {
      if (!fired) {
        fired = true
        StoreSink.onDeleteComputed = () => ()
        new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("k",
            (1L to 12L).map(_.asInstanceOf[Any]).toArray))) // > 20%: COW
      }
    }
    try {
      new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k",
          (30L to 40L).map(_.asInstanceOf[Any]).toArray)))
    } finally StoreSink.onDeleteComputed = () => ()
    assert(fired, "the conflicting delete never ran")
    // BOTH deletes applied: the retry recomputed on the winner's manifest
    assert(readBack(dir) == (13 to 29).map(k => (k.toLong, "a", k * 100L)).toSet,
      s"retry lost a delete: ${readBack(dir).map(_._1).toSeq.sorted}")
  }

  test("multi-table atomic publish: a crash between swaps rolls forward on " +
       "recovery, a crash before the decision aborts — never a torn outcome") {
    val a = freshDir("txn_a"); val b = freshDir("txn_b")
    def seed(dir: String): Unit = {
      df(1 to 20, "m").coalesce(1)
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      df(21 to 30, "s").coalesce(1).write.format(fmt).mode("append")
        .option("path", dir).option("branch", "staged").save()
    }
    def liveCount(dir: String): Long =
      spark.read.format(fmt).option("path", dir).load().count()
    seed(a); seed(b)
    val first = Seq(a, b).min; val second = Seq(a, b).max
    // CRASH AFTER THE FIRST SWAP: the decision is durable, so the outcome
    // is committed — recovery must roll the second table FORWARD
    StoreSink.onTxnSwapped = p => throw new RuntimeException(s"crash after $p")
    try intercept[RuntimeException] {
      StoreSink.publishAll(Seq((a, "staged"), (b, "staged")))
    } finally StoreSink.onTxnSwapped = _ => ()
    assert(liveCount(first) == 30 && liveCount(second) == 20,
      "the injected crash should leave exactly the coordinator published")
    val (fwd2, ab2) = StoreSink.recoverTxn(second)
    assert((fwd2, ab2) == ((1L, 0L)) && liveCount(second) == 30,
      s"recovery must roll the committed transaction forward: ($fwd2, $ab2)")
    val (fwd1, _) = StoreSink.recoverTxn(first) // WAL cleanup; already applied
    assert(fwd1 == 1L && liveCount(first) == 30)
    def txnFiles(dir: String): Seq[String] =
      fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(_.startsWith("_txn.")).toSeq
    assert(txnFiles(a).isEmpty && txnFiles(b).isEmpty,
      s"recovery must clean WALs and the marker: ${txnFiles(a) ++ txnFiles(b)}")
    // CRASH BEFORE THE DECISION: presumed abort — neither publishes, the
    // branches stay staged and the SAME publish succeeds afterwards
    df(31 to 35, "t").coalesce(1).write.format(fmt).mode("append")
      .option("path", a).option("branch", "more").save()
    df(31 to 35, "t").coalesce(1).write.format(fmt).mode("append")
      .option("path", b).option("branch", "more").save()
    StoreSink.onTxnPrepared = () => throw new RuntimeException("crash pre-decide")
    try intercept[RuntimeException] {
      StoreSink.publishAll(Seq((a, "more"), (b, "more")))
    } finally StoreSink.onTxnPrepared = () => ()
    assert(liveCount(a) == 30 && liveCount(b) == 30, "abort must publish nothing")
    val (f3, a3) = StoreSink.recoverTxn(a)
    assert((f3, a3) == ((0L, 1L)), s"undecided txn must abort: ($f3, $a3)")
    StoreSink.recoverTxn(b)
    assert(StoreSink.branchExists(new Path(a), fs, "more") &&
           StoreSink.branchExists(new Path(b), fs, "more"),
      "aborted branches stay staged (WAP: auditable, re-publishable)")
    val (nt, nf) = StoreSink.publishAll(Seq((a, "more"), (b, "more")))
    assert(nt == 2L && nf == 2L && liveCount(a) == 35 && liveCount(b) == 35)
    assert(txnFiles(a).isEmpty && txnFiles(b).isEmpty)
  }

  test("catalog snapshot pointer: readers see all-old through the torn " +
       "APPLY window and across a crash; the pointer advances last") {
    val a = freshDir("cat_a"); val b = freshDir("cat_b")
    val cat = freshDir("cat_ptr")
    def seed(dir: String): Unit = {
      df(1 to 20, "m").coalesce(1)
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      df(21 to 30, "s").coalesce(1).write.format(fmt).mode("append")
        .option("path", dir).option("branch", "staged").save()
    }
    seed(a); seed(b)
    StoreSink.catalogSync(cat, Seq(a, b))
    def catCounts(): (Long, Long) = {
      val snap = StoreSink.readCatalogSnapshot(cat) // ONE pointer read
      def n(p: String) = spark.read.format(fmt).option("path", p)
        .option("atVersion", snap(p).toString).load().count()
      (n(a), n(b))
    }
    assert(catCounts() == ((20L, 20L)))
    // crash between the swaps: tables are torn (coordinator published,
    // peer not), but the CATALOG still pins the all-old snapshot
    StoreSink.onTxnSwapped = p => throw new RuntimeException(s"crash after $p")
    try intercept[RuntimeException] {
      StoreSink.publishAll(Seq((a, "staged"), (b, "staged")), Some(cat))
    } finally StoreSink.onTxnSwapped = _ => ()
    assert(catCounts() == ((20L, 20L)),
      "catalog readers must not see the torn intermediate")
    // recovery rolls the tables forward; the pointer catches up on sync
    StoreSink.recoverTxn(a); StoreSink.recoverTxn(b)
    assert(catCounts() == ((20L, 20L)), "still all-old until the pointer moves")
    StoreSink.catalogSync(cat, Seq(a, b))
    assert(catCounts() == ((30L, 30L)), "sync must pin the recovered heads")
    // a clean publish advances the pointer as its last act
    df(31 to 35, "t").coalesce(1).write.format(fmt).mode("append")
      .option("path", a).option("branch", "more").save()
    df(31 to 35, "t").coalesce(1).write.format(fmt).mode("append")
      .option("path", b).option("branch", "more").save()
    StoreSink.publishAll(Seq((a, "more"), (b, "more")), Some(cat))
    assert(catCounts() == ((35L, 35L)))
  }

  test("txn recovery is idempotent across the swap/branch-delete crash " +
       "window: rolled-forward lines are never appended twice") {
    // the roll-forward idempotency key is the BRANCH FILE's existence, but
    // APPLY writes the manifest swap and the branch delete as two FS ops —
    // construct the exact crash state between them (lines already in head,
    // branch + WAL + decision marker all still present) and recovery must
    // NOT double-apply
    val a = freshDir("txn_idem_a"); val b = freshDir("txn_idem_b")
    def seed(dir: String): Unit = {
      df(1 to 20, "m").coalesce(1)
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      df(21 to 30, "s").coalesce(1).write.format(fmt).mode("append")
        .option("path", dir).option("branch", "staged").save()
    }
    seed(a); seed(b)
    val sorted = Seq(a, b).sorted
    val coord = sorted.head
    val txnId = "deadbeef0123"
    sorted.foreach { p =>
      val root = new Path(p); val raw = StoreSink.manifestFs(fs)
      val out = raw.create(new Path(root, s"_txn.$txnId"), true)
      out.write((s"coord=$coord\nbranch=staged\npeers=" +
        sorted.mkString(",")).getBytes("UTF-8"))
      out.close()
    }
    StoreSink.manifestFs(fs)
      .create(new Path(new Path(coord), s"_txn.$txnId.commit"), false).close()
    // the torn table: swap applied (marker included — what APPLY writes),
    // branch file NOT yet deleted
    val root = new Path(sorted.head)
    val entries = StoreSink.readBranchLines(root, fs, "staged")
    StoreSink.writeManifestAtomic(root, fs,
      StoreSink.readManifestLines(root, fs) ++ entries :+ s"#txn=$txnId")
    def liveCount(dir: String): Long =
      spark.read.format(fmt).option("path", dir).load().count()
    assert(liveCount(sorted.head) == 30)
    // the hard case: a commit between the crash and the recovery MUTATES
    // an applied entry's line (dv attach) — exact-line matching would no
    // longer recognize it and recovery would resurrect the unmasked
    // original; the #txn marker must still say "applied"
    new StoreTable(sorted.head).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("k", 25L)))
    assert(liveCount(sorted.head) == 29)
    val (f1, _) = StoreSink.recoverTxn(sorted.head)
    assert(f1 == 1L, "the committed txn must still count as rolled forward")
    assert(liveCount(sorted.head) == 29,
      s"recovery double-applied the branch: ${liveCount(sorted.head)} rows")
    val lines = StoreSink.readManifestLines(root, fs).filterNot(_.startsWith("#"))
    assert(lines.distinct.size == lines.size,
      "recovery appended duplicate manifest lines")
    assert(!StoreSink.branchExists(root, fs, "staged"),
      "recovery must still consume the branch file")
    // the second (untorn) table rolls forward normally
    val (f2, _) = StoreSink.recoverTxn(sorted(1))
    assert(f2 == 1L && liveCount(sorted(1)) == 30)
  }

  test("vacuum never GCs a live WAP branch's staged files") {
    val dir = freshDir("wapvac")
    df(1 to 20, "a").write.format(fmt).mode("overwrite").option("path", dir).save()
    df(21 to 30, "b").coalesce(1).write.format(fmt).mode("append")
      .option("path", dir).option("branch", "staged").save()
    val root = new Path(dir)
    val branchFiles = StoreSink.readBranchLines(root, fs, "staged")
      .map(StoreSink.parseEntry(_).name)
    assert(branchFiles.nonEmpty)
    // aggressive vacuum while the branch is LIVE: staged files must survive
    StoreSink.vacuum(dir, 1)
    branchFiles.foreach(f => assert(fs.exists(new Path(dir, f)),
      s"vacuum deleted live branch file $f"))
    assert(readBack(dir).size == 20, "branch leaked into main")
    // a branch AUDIT view resolved by name is read-only: writes refuse
    val ex = intercept[Exception] {
      new StoreTable(dir, branchView = Some("staged"))
        .newWriteBuilder(null)
    }
    assert(ex.getMessage.contains("branch AUDIT view"))
    StoreSink.publish(dir, "staged")
    assert(readBack(dir).size == 30)
    // once ABANDONED-equivalent state is gone (published), nothing dangles
    StoreSink.vacuum(dir, 1)
    assert(readBack(dir).size == 30)
  }

  test("schema evolution: ALTER adds trailing columns; old files read null-padded") {
    import spark.implicits._
    val dir = freshDir("evolve")
    df(1 to 50, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val oldFile = StoreSink.readManifest(new Path(dir), fs).head
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
      assert(StoreSink.tableSchema(dir).fieldNames.toSeq ==
        Seq("k", "grp", "amt_cents", "note"))
      Seq((51L, "b", 5100L, "x"), (52L, "b", 5200L, null))
        .toDF("k", "grp", "amt_cents", "note")
        .write.format(fmt).mode("append").option("path", dir).save()
      val rows = spark.table("graft.store").collect()
        .map(r => (r.getLong(0), Option(r.getString(3)))).toMap
      assert(rows.size == 52 && rows(1L).isEmpty && rows(51L).contains("x") &&
        rows(52L).isEmpty, "old files must read NULL in the evolved column")
      // a row-level op keyed on the NEW column stays file-granular: the
      // matched keys live only in the appended file, so the pre-evolution
      // file carries over BY NAME — still 3-wide on disk
      spark.sql("UPDATE graft.store SET amt_cents = amt_cents + 1 " +
                "WHERE note IS NOT NULL")
      assert(StoreSink.readManifest(new Path(dir), fs).contains(oldFile),
        "evolved UPDATE rewrote a file its predicate cannot touch")
      val upd = spark.table("graft.store").where(col("k") >= 51).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toMap
      assert(upd == Map(51L -> 5101L, 52L -> 5200L))
      // the contract is guarded: duplicate and non-trailing adds fail
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store ADD COLUMN early STRING FIRST")
      }
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("declared stat columns: manifest carries per-column bounds, a third-" +
       "column predicate prunes planning, MIN/MAX push down and decline right") {
    import spark.implicits._
    val dir = freshDir("zonemulti")
    val root = new Path(dir)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN fee BIGINT")
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'fee')")
      // 8 fee-disjoint files; k deliberately NOT clustered, so only the
      // fee stats can prune
      (1L to 400L).map(k => (k, s"g${k % 3}", k * 10, (k * 7) % 400))
        .toDF("k", "grp", "amt_cents", "fee")
        .repartitionByRange(8, col("fee"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      val entries = StoreSink.readEntries(root, fs)
      assert(entries.size == 8 &&
             entries.forall(_.stats.exists(_._1 == "fee")),
        s"every entry must carry fee bounds: ${entries.map(_.line)}")
      // narrow fee range plans a strict file subset (spec-pinned count)
      val narrow = spark.read.format(fmt).option("path", dir).load()
        .where(col("fee") >= 0 && col("fee") < 50)
      val (total, planned) =
        filesOf(assert(narrow.count() == (1L to 400L).count(k => (k * 7) % 400 < 50)))
      assert(total == 8 && planned <= 2,
        s"fee zones must prune planning: planned $planned of $total")
      // unfiltered MIN/MAX(fee): answered from metadata, zero files
      val mmq = spark.read.format(fmt).option("path", dir).load()
        .agg(min(col("fee")), max(col("fee")))
      val mm = mmq.collect()(0)
      assert(ScanMetrics(mmq).aggPush.contains("min_s:fee,max_s:fee"))
      assert(mm.getLong(0) == (1L to 400L).map(k => (k * 7) % 400).min &&
             mm.getLong(1) == (1L to 400L).map(k => (k * 7) % 400).max)
      // compaction rewrites PRESERVE declared stats (factory re-resolves)
      StoreSink.compact(spark, dir, 200)
      assert(StoreSink.readEntries(root, fs)
               .forall(e => e.rows == 0 || e.stats.exists(_._1 == "fee")),
        "compaction dropped declared stats")
      // a generation written while the column was UNDECLARED makes MIN/MAX
      // decline (a stat-less file could hide the extremum) but stays
      // readable; pruning simply keeps the stat-less file
      spark.sql("ALTER TABLE graft.store UNSET TBLPROPERTIES " +
                "('graft.stats.cols')")
      Seq((1000L, "gx", 1L, 9999L)).toDF("k", "grp", "amt_cents", "fee")
        .write.format(fmt).mode("append").option("path", dir).save()
      val mm2q = spark.read.format(fmt).option("path", dir).load()
        .agg(max(col("fee")))
      val mm2 = mm2q.collect()(0)
      assert(ScanMetrics(mm2q).aggPush.isEmpty,
        "MIN/MAX must decline when a row-bearing entry lacks the stat")
      assert(mm2.getLong(0) == 9999L)
      val wide = spark.read.format(fmt).option("path", dir).load()
        .where(col("fee") === 9999L)
      assert(wide.count() == 1, "stat-less file must stay readable")
      // the inspection table surfaces the declared bounds
      val statsCol = spark.sql(
        "SELECT stats FROM graft.`store$files` WHERE stats IS NOT NULL")
        .collect().map(_.getString(0))
      assert(statsCol.nonEmpty && statsCol.forall(_.startsWith("fee:")),
        s"store\\$$files must surface declared stats: ${statsCol.toSeq}")
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("zorder_by: a 3-D morton rewrite makes narrow predicates on ALL " +
       "three columns prune planning") {
    import spark.implicits._
    val dir = freshDir("zorderby")
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN fee BIGINT")
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'fee')")
      // k-hash-scattered 8-file layout: before the rewrite NO column's
      // zones can prune anything
      (1L to 4096L).map(k => (k, s"g${k % 3}", (k * 37) % 4096, (k * 59) % 4096))
        .toDF("k", "grp", "amt_cents", "fee")
        .repartition(8, col("k"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      def planned(p: org.apache.spark.sql.DataFrame): (Long, Long) = filesOf(p.count())
      def store = spark.read.format(fmt).option("path", dir).load()
      val (t0, p0) = planned(store.where(col("fee") < 2048))
      assert(t0 == 8 && p0 == 8, s"scattered layout should not prune: $p0/$t0")
      val res = spark.sql(
        s"CALL graft.zorder_by('$dir', 128, 'k,amt_cents,fee')").collect()(0)
      assert(res.getLong(0) == 8 && res.getLong(1) == 32)
      // after the 3-D rewrite each file covers a compact cube: a HALF-SPACE
      // predicate on EACH column (top morton bit) prunes every file fully
      // inside the excluded regions. repartitionByRange's sampled split
      // points wobble, and the lowest-priority dimension only gets ~aligned
      // regions 4 file-widths wide at 32 files — so the pin is "prunes at
      // least a fifth", not an exact count (the pre-rewrite layout pruned
      // NOTHING on any column)
      for (c <- Seq("k", "amt_cents", "fee")) {
        val (t, p) = planned(store.where(col(c) < 2048))
        assert(t == 32 && p <= 26, s"$c zones must prune after zorder_by: $p/$t")
      }
      // content survived the rewrite bit for bit
      assert(store.agg(sum(col("k")), sum(col("amt_cents")), sum(col("fee")))
        .collect()(0).toSeq ==
        Seq((1L to 4096L).sum, (1L to 4096L).map(k => (k * 37) % 4096).sum,
            (1L to 4096L).map(k => (k * 59) % 4096).sum))
      // refusals: unknown columns, wrong arity (strings are accepted since
      // the prefix-code extension — grp is a legal zorder column now)
      intercept[Exception] {
        spark.sql(s"CALL graft.zorder_by('$dir', 512, 'k,nosuch')").collect()
      }
      intercept[Exception] {
        spark.sql(s"CALL graft.zorder_by('$dir', 512, 'k')").collect()
      }
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("field-id evolution: rename is metadata-only, drop tombstones the " +
       "slot, re-add never resurrects, base prefix is guarded") {
    import spark.implicits._
    val dir = freshDir("fieldid")
    val root = new Path(dir)
    df(1 to 40, "a").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
      spark.sql("ALTER TABLE graft.store ADD COLUMN fee BIGINT")
      Seq((41L, "b", 4100L, "x", 7L), (42L, "b", 4200L, "y", 8L))
        .toDF("k", "grp", "amt_cents", "note", "fee")
        .write.format(fmt).mode("append").option("path", dir).save() // v2
      val filesBefore = StoreSink.readManifest(root, fs).toSet
      // RENAME: zero files touched, values read under the new name
      spark.sql("ALTER TABLE graft.store RENAME COLUMN note TO memo")
      assert(StoreSink.readManifest(root, fs).toSet == filesBefore,
        "rename must not touch data files")
      assert(StoreSink.tableSchema(dir).fieldNames.toSeq ==
        Seq("k", "grp", "amt_cents", "memo", "fee"))
      val renamed = spark.table("graft.store").where(col("k") >= 41)
        .collect().map(r => (r.getLong(0), r.getString(3))).toMap
      assert(renamed == Map(41L -> "x", 42L -> "y"),
        s"old files must read under the renamed column: $renamed")
      // time travel to v2 resolves the archived schema: the OLD name
      val v2 = spark.sql("SELECT * FROM graft.store VERSION AS OF 2")
      assert(v2.schema.fieldNames.toSeq ==
        Seq("k", "grp", "amt_cents", "note", "fee"))
      assert(v2.where("note = 'x'").count() == 1)
      // DROP tombstones the slot: fee keeps decoding from ITS slot (the
      // ordinal-decode misread would read "x"/"y" strings as fee)
      spark.sql("ALTER TABLE graft.store DROP COLUMN memo")
      assert(StoreSink.readManifest(root, fs).toSet == filesBefore,
        "drop must not touch data files")
      val fees = spark.table("graft.store").where(col("k") >= 41)
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(fees == Map(41L -> 7L, 42L -> 8L),
        s"fee must survive its dead neighbor slot: $fees")
      // post-drop append pads the dead slot so widths stay id-stable
      Seq((43L, "c", 4300L, 9L)).toDF("k", "grp", "amt_cents", "fee")
        .write.format(fmt).mode("append").option("path", dir).save() // v3
      // re-ADD under the dropped name: fresh slot, no resurrection
      spark.sql("ALTER TABLE graft.store ADD COLUMN memo STRING")
      val memos = spark.table("graft.store").where(col("k") >= 41)
        .collect().map(r => (r.getLong(0), Option(r.getString(4)))).toMap
      assert(memos == Map(41L -> None, 42L -> None, 43L -> None),
        s"re-added column must read NULL everywhere: $memos")
      assert(spark.table("graft.store").where(col("k") === 43)
        .collect().head.getLong(3) == 9L)
      // guards: the base prefix is load-bearing; clashes refuse
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store RENAME COLUMN k TO key")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store DROP COLUMN grp")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store RENAME COLUMN fee TO memo")
      }
      // a CHECK-constrained column refuses rename/drop until the
      // constraint goes
      spark.sql("ALTER TABLE graft.store ADD CONSTRAINT fee_pos " +
                "CHECK (fee IS NULL OR fee > 0)")
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store DROP COLUMN fee")
      }
      spark.sql("ALTER TABLE graft.store DROP CONSTRAINT fee_pos")
      spark.sql("ALTER TABLE graft.store DROP COLUMN fee")
      assert(StoreSink.tableSchema(dir).fieldNames.toSeq ==
        Seq("k", "grp", "amt_cents", "memo"))
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("TopN pushdown: zone-ordered coverage honors null placement, " +
       "IS [NOT] NULL prunes from null counts, masks decline to a full plan") {
    import spark.implicits._
    val dir = freshDir("topn")
    (1L to 400L).map(k => (k, "a", k * 100))
      .toDF("k", "grp", "amt_cents").repartitionByRange(8, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    spark.range(1, 4) // one file holding ONLY null keys (nullK = 3)
      .select(lit(null).cast("long").as("k"), lit("z").as("grp"),
              col("id").as("amt_cents"))
      .coalesce(1)
      .write.format(fmt).mode("append").option("path", dir).save()
    val entries = StoreSink.readEntries(new Path(dir), fs)
    assert(entries.size == 9 && entries.forall(_.nullK.isDefined) &&
           entries.map(_.nullK.get).sum == 3, s"${entries.map(_.nullK)}")
    def store = spark.read.format(fmt).option("path", dir).load()
    // (rows, (candidates, files the top-n planning kept)); the scan must
    // name the top-n it took over
    def topn(df: org.apache.spark.sql.DataFrame): (Seq[Any], (Long, Long)) = {
      val rows = df.collect().map(r => if (r.isNullAt(0)) null else r.getLong(0)).toSeq
      val m = ScanMetrics(df)
      assert(m.described(" topN=5"), s"top-n not pushed: ${m.scans.map(_.scan.description())}")
      (rows, (m.sum("partKeptFiles"), m.sum("limitKeptFiles")))
    }
    // ASC NULLS FIRST (Spark's asc default): 3 nulls + the 2 smallest keys;
    // planned = the null file + the lowest zone
    val (r1, (t1, p1)) = topn(store.orderBy(col("k").asc).limit(5).select(col("k")))
    assert(r1.count(_ == null) == 3 && r1.filter(_ != null).toSet == Set(1L, 2L))
    assert(t1 == 9 && p1 == 2, s"nulls-first must plan null file + low zone: $p1/$t1")
    // ASC NULLS LAST: pure value coverage, null file not planned
    val (r2, (t2, p2)) = topn(
      store.orderBy(col("k").asc_nulls_last).limit(5).select(col("k")))
    assert(r2 == Seq(1L, 2L, 3L, 4L, 5L) && t2 == 9 && p2 == 1, s"$p2/$t2")
    // DESC (nulls last): the top zone only
    val (r3, (t3, p3)) = topn(store.orderBy(col("k").desc).limit(5).select(col("k")))
    assert(r3 == Seq(400L, 399L, 398L, 397L, 396L) && p3 == 1, s"$p3/$t3")
    // IS [NOT] NULL pruning from the exact null counts
    assert(filesOf(assert(store.where(col("k").isNull).count() == 3)) == ((9L, 1L)))
    assert(filesOf(assert(store.where(col("k").isNotNull).count() == 400)) == ((9L, 8L)),
      "IS NOT NULL must skip the all-null file")
    // an equality mask makes counts inexact: TopN falls back to the FULL
    // candidate plan (sound superset), the answer unchanged
    eqDel(dir, Seq(1L))
    val (r4, (t4, p4)) = topn(
      store.orderBy(col("k").asc_nulls_last).limit(5).select(col("k")))
    assert(r4 == Seq(2L, 3L, 4L, 5L, 6L))
    assert(t4 == 9 && p4 == 9, s"masked entries must decline the cut: $p4/$t4")
  }

  test("OFFSET pushdown: whole leading files drop, the boundary file " +
       "row-skips in line order, masks/filters decline the push") {
    import spark.implicits._
    val dir = freshDir("offset")
    (1L to 400L).map(k => (k, "a", k * 100))
      .toDF("k", "grp", "amt_cents").repartitionByRange(8, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val root = new Path(dir)
    val entries = StoreSink.readEntries(root, fs)
    assert(entries.size == 8)
    def store = spark.read.format(fmt).option("path", dir).load()
    // offset = first file + 7: drops file 1 whole, skips 7 LINES of file 2
    val m = entries.head.rows.toInt + 7
    def linesOf(name: String): Seq[Long] = {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(new Path(root, name))))
      try Iterator.continually(in.readLine()).takeWhile(_ != null)
        .map(_.split(",")(0).toLong).toList
      finally in.close()
    }
    val expected = (entries.drop(2).flatMap(e => linesOf(e.name)) ++
      linesOf(entries(1).name).drop(7)).toSet
    val page = store.offset(m).select(col("k"))
    val got = page.collect().map(_.getLong(0)).toSet
    assert(got == expected,
      s"offset must drop exactly the manifest-order prefix: ${got.size} vs ${expected.size}")
    // the scan names the offset it took over; a declined push leaves none
    val paged = ScanMetrics(page)
    val cut = (paged.sum("partKeptFiles"), paged.sum("plannedFiles"))
    assert(paged.described(s" offset=$m") && cut == ((8L, 7L)),
      s"file 1 should not be planned: $cut")
    def offsetPushed(body: => Any): Boolean = scansOf(body).described(" offset=")
    // a filter above the scan declines the push (Spark keeps its Offset
    // node; the count is still exact)
    assert(!offsetPushed(assert(store.where(col("grp") === "a").offset(m).count() == 400L - m)),
      "filtered scans must not push")
    // an equality mask makes counts inexact: the push is refused up front
    eqDel(dir, Seq(5L))
    assert(!offsetPushed(assert(store.offset(10).count() == 389)), // 399 live - 10
      "masked stores must not push")
  }

  test("string zone stats: analyze backfills truncated-prefix bounds, " +
       "predicates prune, non-ASCII never poisons, zorder_by takes strings") {
    import spark.implicits._
    val dir = freshDir("strzone")
    val root = new Path(dir)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN tag STRING")
      // values LONGER than the 16-char prefix share long common prefixes —
      // the truncation path must stay conservative; one value is non-ASCII
      def tagOf(k: Long): String = // > 16 chars: truncation is exercised
        if (k == 321L) "t-00321-aaaaaaaaé" // non-ASCII: poisons its file
        else f"t-$k%05d-aaaaaaaaaaaaaaaa"
      (1L to 400L).map(k => (k, s"g${k % 3}", k * 100, tagOf(k)))
        .toDF("k", "grp", "amt_cents", "tag")
        .repartitionByRange(8, col("tag"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      // written BEFORE the declaration: stat-less, nothing prunes
      def store = spark.read.format(fmt).option("path", dir).load()
      def planned(p: org.apache.spark.sql.DataFrame): (Long, Long) = filesOf(p.count())
      val (t0, p0) = planned(store.where(col("tag") === tagOf(7)))
      assert(t0 == p0, "stat-less files must never prune")
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'tag')")
      StoreSink.analyze(dir) // metadata-only string-bound backfill
      val entries = StoreSink.readEntries(root, fs)
      // every file EXCEPT the one holding the non-ASCII value has bounds
      assert(entries.count(_.sstats.exists(_._1 == "tag")) == entries.size - 1,
        s"${entries.map(_.sstats)}")
      entries.flatMap(_.sstats).foreach { case (_, lo, hi) =>
        assert(lo.length <= 16 && hi.length <= 17, s"($lo, $hi)")
      }
      // point/range/LIKE predicates prune planning; answers stay exact
      val (t1, p1) = planned(store.where(col("tag") === tagOf(7)))
      assert(p1 < t1, s"point predicate must prune: $p1/$t1")
      assert(store.where(col("tag") === tagOf(7)).collect().map(_.getLong(0)).toSeq
        == Seq(7L))
      val (t2, p2) = planned(store.where(col("tag") >= tagOf(390)))
      assert(p2 < t2 && store.where(col("tag") >= tagOf(390)).count() == 11,
        s"range: $p2/$t2") // 390..400 (the non-ASCII é sorts above ascii)
      // the non-ASCII row is still FOUND (its file never prunes)
      assert(store.where(col("tag") === tagOf(321)).count() == 1)
      // zorder_by accepts (bigint, string): rewrite, then both columns prune
      val res = spark.sql(s"CALL graft.zorder_by('$dir', 50, 'k,tag')").collect()(0)
      assert(res.getLong(1) >= 2)
      spark.sql(s"CALL graft.analyze('$dir')").collect() // fresh files: re-stat
      val (t3, p3) = planned(store.where(col("tag").startsWith("t-000")))
      assert(p3 < t3, s"post-zorder LIKE-prefix must prune: $p3/$t3")
      assert(store.where(col("tag").startsWith("t-000"))
        .count() == 99) // 1..99 zero-padded to 5 digits
      // EMPTY STRING is a legal value AND a legal bound: a file whose tag
      // values are all "" must round-trip its 'col::' stat line (the
      // split-drops-trailing-empties parse regression) and keep reading
      Seq((9001L, "z", 1L, "")).toDF("k", "grp", "amt_cents", "tag")
        .coalesce(1)
        .write.format(fmt).mode("append").option("path", dir).save()
      spark.sql(s"CALL graft.analyze('$dir')").collect()
      assert(StoreSink.readEntries(root, fs).nonEmpty, "manifest must parse")
      assert(store.where(col("tag") === "").count() == 1)
      assert(store.count() == 401)
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("analyze NDV sketches feed the CBO: the same hint-free join " +
       "broadcasts with stats and shuffles without") {
    import spark.implicits._
    def seed(dir: String): Unit =
      (1L to 20000L).map(k => (k, "g" + (k % 500), k))
        .toDF("k", "grp", "amt_cents").repartition(4, col("k"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
    val fact = freshDir("ndv_fact"); val bare = freshDir("ndv_bare")
    val other = freshDir("ndv_other")
    seed(fact); seed(bare); seed(other)
    StoreSink.analyze(fact) // persists per-column HLL NDV to _props
    val ndv = StoreSink.readProps(new Path(fact), fs)
      .find(_._1 == StoreSink.NdvProp).map(_._2).getOrElse("")
    assert(ndv.contains("grp:") && ndv.contains("k:"), ndv)
    def planOf(dir: String): String = {
      val side = spark.read.format(fmt).option("path", dir).load()
        .where(col("grp") === "g7")
      val big = spark.read.format(fmt).option("path", other).load()
      side.join(big, "k").queryExecution.executedPlan.toString
    }
    val prev = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
    try {
      // with NDV: the grp = 'g7' estimate is rows/ndv(grp) ≈ 40 rows — far
      // under the threshold, so the optimizer broadcasts WITHOUT a hint
      assert(planOf(fact).contains("BroadcastHashJoin"),
        s"NDV-informed filter estimate must drive a broadcast:\n${planOf(fact)}")
      // without stats the filter keeps its child's size → shuffle join
      assert(!planOf(bare).contains("BroadcastHashJoin"),
        "the un-analyzed twin must not broadcast (estimate stays table-sized)")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      prev match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
  }

  test("incremental NDV: appends keep the estimates fresh between " +
       "analyzes; truncate re-baselines; untracked tables pay nothing") {
    val dir = freshDir("ndv_incr")
    def ndvOf(): Map[String, Long] = StoreSink.readProps(new Path(dir), fs)
      .find(_._1 == StoreSink.NdvProp).map(_._2).getOrElse("")
      .split(';').filter(_.nonEmpty)
      .map { kv => val Array(c, v) = kv.split(":", 2); (c, v.toLong) }.toMap
    // before ANALYZE no sketches exist — appends must not invent stats
    df(1 to 100, "a").write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    assert(ndvOf().isEmpty, "untracked table must carry no NDV")
    StoreSink.analyze(dir)
    val base = ndvOf()
    assert(base("grp") == 1L && base("k") == 100L, s"$base") // HLL exact small
    // an append with NEW values updates the estimates WITHOUT a re-analyze
    df(101 to 150, "b").write.format(fmt).mode("append")
      .option("path", dir).save()
    val after = ndvOf()
    assert(after("grp") == 2L && after("k") == 150L,
      s"appends must keep NDV fresh: $after")
    // re-appending the SAME values changes nothing (HLL is value-idempotent)
    df(101 to 150, "b").write.format(fmt).mode("append")
      .option("path", dir).save()
    assert(ndvOf() == after, "duplicate values must not inflate NDV")
    // a logical truncate re-baselines from the new generation alone
    df(1 to 7, "c").write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    val reset = ndvOf()
    assert(reset("k") == 7L && reset("grp") == 1L,
      s"truncate must re-baseline the sketches: $reset")
    // and ANALYZE still re-baselines exactly (q_store_analyze's contract)
    StoreSink.analyze(dir)
    assert(ndvOf()("k") == 7L)
  }

  test("NDV re-baselines on a full replace-set rewrite: a whole-table " +
       "compaction after deletes tracks reality without a manual ANALYZE") {
    val dir = freshDir("ndv_compact")
    def ndvOf(): Map[String, Long] = StoreSink.readProps(new Path(dir), fs)
      .find(_._1 == StoreSink.NdvProp).map(_._2).getOrElse("")
      .split(';').filter(_.nonEmpty)
      .map { kv => val Array(c, v) = kv.split(":", 2); (c, v.toLong) }.toMap
    df(1 to 100, "a").repartition(4).write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    StoreSink.analyze(dir)
    assert(ndvOf()("k") == 100L)
    // deletes only UPPER-BOUND the estimate (HLL cannot subtract) ...
    new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.GreaterThan("k", 10L)))
    assert(ndvOf()("k") == 100L, "deletes leave an upper bound")
    // ... until maintenance rewrites the WHOLE table: the compaction's
    // writer sketches describe every live row, so the commit re-baselines
    StoreSink.compact(spark, dir, 1000000L)
    val reset = ndvOf()
    assert(reset("k") == 10L,
      s"a full rewrite must re-baseline NDV from its own rows: $reset")
    // a PARTIAL replace keeps unioning (surviving files may hold values
    // the commit never saw): append a second range as two files, compact
    // only that range
    df(200 to 210, "b").coalesce(1).write.format(fmt).mode("append")
      .option("path", dir).save()
    df(211 to 220, "b").coalesce(1).write.format(fmt).mode("append")
      .option("path", dir).save()
    assert(ndvOf()("k") == 31L, s"appends fold in: ${ndvOf()}")
    val (pb, pa) = StoreSink.compact(spark, dir, 1000000L, Some(200L), None)
    assert(pa < pb, "fixture: the ranged compact must actually merge")
    assert(ndvOf()("k") == 31L,
      s"a partial rewrite must not drop surviving files' values: ${ndvOf()}")
  }

  test("type widening: int -> bigint is metadata-only, travel reads each " +
       "generation under its own type, lossy directions refuse") {
    import spark.implicits._
    val dir = freshDir("widen")
    val root = new Path(dir)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN fee INT")
      Seq((1L, "a", 100L, 7), (2L, "a", 200L, 8))
        .toDF("k", "grp", "amt_cents", "fee").coalesce(1)
        .write.format(fmt).mode("append").option("path", dir).save() // v1
      val filesBefore = StoreSink.readManifest(root, fs).toSet
      spark.sql("ALTER TABLE graft.store ALTER COLUMN fee TYPE BIGINT")
      assert(StoreSink.readManifest(root, fs).toSet == filesBefore,
        "widening must not touch data files")
      assert(spark.table("graft.store").schema.fields(3).dataType ==
        org.apache.spark.sql.types.LongType)
      // the old file's digits parse wider; a 64-bit write lands
      Seq((3L, "b", 300L, 6000000000L)).toDF("k", "grp", "amt_cents", "fee")
        .coalesce(1)
        .write.format(fmt).mode("append").option("path", dir).save() // v2
      val got = spark.table("graft.store").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(got == Map(1L -> 7L, 2L -> 8L, 3L -> 6000000000L), s"$got")
      // time travel: v1 committed under int reads as int
      val v1 = spark.sql("SELECT * FROM graft.store VERSION AS OF 1")
      assert(v1.schema.fields(3).dataType ==
        org.apache.spark.sql.types.IntegerType)
      assert(v1.collect().map(r => (r.getLong(0), r.getInt(3))).toMap ==
        Map(1L -> 7, 2L -> 8))
      // CDF across the widening boundary: shaped like the destination view
      val feed = StoreSink.changes(spark, dir, 1, Some(2))
      assert(feed.schema.fields.map(_.name).toSeq ==
        Seq("op", "k", "grp", "amt_cents", "fee"))
      assert(feed.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(4))).toSet ==
        Set(("insert", 3L, 6000000000L)))
      // refusals: narrowing, cross-kind, and base columns
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store ALTER COLUMN fee TYPE INT")
      }
      intercept[Exception] {
        spark.sql("ALTER TABLE graft.store ALTER COLUMN fee TYPE STRING")
      }
      intercept[Exception] { // base column (and a narrowing to boot)
        spark.sql("ALTER TABLE graft.store ALTER COLUMN amt_cents TYPE INT")
      }
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("declared stats follow column evolution: RENAME rekeys them, DROP " +
       "strips them — a re-ADD never inherits the dropped column's bounds") {
    import spark.implicits._
    val dir = freshDir("statsevolve")
    val root = new Path(dir)
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      spark.sql("ALTER TABLE graft.store ADD COLUMN fee BIGINT")
      (1L to 400L).map(k => (k, s"g${k % 3}", k * 100, k % 50))
        .toDF("k", "grp", "amt_cents", "fee")
        .repartition(4, col("k"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'fee')")
      spark.sql(s"CALL graft.analyze('$dir')").collect()
      assert(StoreSink.readEntries(root, fs)
        .forall(_.stats.exists(_._1 == "fee")), "analyze must backfill fee")
      def store = spark.read.format(fmt).option("path", dir).load()
      // RENAME rekeys: the slot (and its values) are unchanged, so the
      // bounds stay valid under the NEW name — pushdown keeps answering
      spark.sql("ALTER TABLE graft.store RENAME COLUMN fee TO fare")
      val entries1 = StoreSink.readEntries(root, fs)
      assert(entries1.forall(e => e.stats.exists(_._1 == "fare") &&
               !e.stats.exists(_._1 == "fee")),
        s"rename must rekey manifest stats: ${entries1.map(_.stats)}")
      assert(StoreSink.readProps(root, fs).toMap
        .get(StoreSink.StatColsProp).contains("fare"),
        "rename must follow in graft.stats.cols")
      val mm1q = store.agg(min(col("fare")), max(col("fare")))
      val mm1 = mm1q.collect()(0)
      assert((mm1.getLong(0), mm1.getLong(1)) == (0L, 49L))
      assert(ScanMetrics(mm1q).aggPush.contains("min_s:fare,max_s:fare"),
        "renamed stats must keep serving the metadata MIN/MAX")
      // DROP strips: old entries must NOT satisfy a later same-name re-ADD
      spark.sql("ALTER TABLE graft.store DROP COLUMN fare")
      assert(StoreSink.readEntries(root, fs).forall(_.stats.isEmpty),
        "drop must strip the dead column's manifest stats")
      assert(StoreSink.readProps(root, fs).toMap
        .get(StoreSink.StatColsProp).forall(_.isEmpty))
      spark.sql("ALTER TABLE graft.store ADD COLUMN fare BIGINT")
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'fare')")
      // the re-added fare (fresh field id) reads NULL from every old file:
      // MIN/MAX must decline the metadata path and answer NULL — the
      // pre-fix behavior returned the DROPPED column's extremum here
      val mm2q = store.agg(min(col("fare")), max(col("fare")))
      val mm2 = mm2q.collect()(0)
      assert(mm2.isNullAt(0) && mm2.isNullAt(1),
        s"re-added column is all-NULL, got ${mm2.toSeq}")
      assert(!ScanMetrics(mm2q).aggPush.exists(_.contains("min_s")),
        "stat-less entries must decline the metadata MIN/MAX")
      // STRING stats get the same hygiene: drop a string stat column, then
      // RENAME another string column onto the freed name — the old prefix
      // bounds must not survive to prune the renamed column's reads
      spark.sql("ALTER TABLE graft.store ADD COLUMN tag STRING")
      spark.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
      (401L to 500L).map(k => (k, "g0", k * 100, null: java.lang.Long,
          f"t$k%05d", f"n$k%05d"))
        .toDF("k", "grp", "amt_cents", "fare", "tag", "note")
        .coalesce(1)
        .write.format(fmt).mode("append").option("path", dir).save()
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES " +
                "('graft.stats.cols' = 'tag')")
      spark.sql(s"CALL graft.analyze('$dir')").collect()
      assert(StoreSink.readEntries(root, fs).exists(_.sstats.exists(_._1 == "tag")))
      spark.sql("ALTER TABLE graft.store DROP COLUMN tag")
      assert(StoreSink.readEntries(root, fs).forall(_.sstats.isEmpty),
        "drop must strip the dead column's STRING bounds too")
      spark.sql("ALTER TABLE graft.store RENAME COLUMN note TO tag")
      // the renamed column (old 'note' values) reads fully — no stale
      // prefix bound prunes files that hold matching rows
      assert(store.where(col("tag") === "n00442").count() == 1)
    } finally {
      spark.conf.unset(GraftCatalog.StorePathKey)
    }
  }

  test("concurrent delta MERGEs serialize under the commit lock — " +
       "disjoint-key commits all land, no lost updates, no rewrites") {
    val dir = freshDir("deltarace")
    df(1 to 80, "s").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val seedNames = StoreSink.readEntries(new Path(dir), fs).map(_.name)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    graft.sources.Sources.withStorePath(spark, dir) {
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try {
        val jobs = (1 to 8).map { i =>
          Future {
            import spark.implicits._
            val v = s"delta_race_$i"
            (((i - 1) * 10 + 1) to (i * 10))
              .map(k => (k.toLong, s"u$i", i * 1000L))
              .:+((1000L + i, s"n$i", i * 7L))
              .toDF("k", "grp", "amt_cents").createOrReplaceTempView(v)
            spark.sql(
              s"""MERGE INTO graft.store t USING $v s ON t.k = s.k
                 |WHEN MATCHED THEN UPDATE SET grp = s.grp, amt_cents = s.amt_cents
                 |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents)
                 |  VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
          }
        }
        Await.result(Future.sequence(jobs), 180.seconds)
      } finally spark.conf.unset("spark.graft.store.rowlevel.mode")
    }
    val got = readBack(dir)
    val want = (1 to 80).map { k =>
      val i = (k - 1) / 10 + 1
      (k.toLong, s"u$i", i * 1000L)
    }.toSet ++ (1 to 8).map(i => (1000L + i, s"n$i", i * 7L)).toSet
    assert(got == want, "concurrent delta commits lost or clobbered rows")
    val after = StoreSink.readEntries(new Path(dir), fs)
    assert(seedNames.forall(after.map(_.name).contains),
      "a delta commit rewrote a data file under the race")
    assert(!fs.exists(new Path(dir, "_commit.lock")), "commit lock leaked")
  }

  test("concurrent appends serialize under the commit lock — no lost updates") {
    val dir = freshDir("concurrent")
    df(0 to 0, "seed").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    // 8 appends racing from one driver: before the commit lock, two
    // committers could both read generation N and the second swap erased
    // the first's files (classic lost update)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val jobs = (1 to 8).map { i =>
      Future {
        df((i * 100) to (i * 100 + 9), s"g$i").repartition(1)
          .write.format(fmt).mode("append").option("path", dir).save()
      }
    }
    Await.result(Future.sequence(jobs), 120.seconds)
    val files = StoreSink.readManifest(new Path(dir), fs)
    assert(files.size == 9, s"lost update: expected 9 manifest files, got ${files.size}")
    assert(readBack(dir).size == 81, "rows lost under concurrent append")
    assert(!fs.exists(new Path(dir, "_commit.lock")), "commit lock leaked")
    // compaction during concurrency-capable commits replaces EXACTLY the
    // files it read; an append racing it survives (replace-set semantics)
    val (b, a) = StoreSink.compact(spark, dir, 50)
    assert(b == 9 && a == 2 && readBack(dir).size == 81)
    // stale lock: loud, named, and recoverable — never a silent takeover
    fs.create(new Path(dir, "_commit.lock"), true).close()
    StoreSink.lockTimeoutNanos = 200L * 1000 * 1000
    try {
      val e = intercept[Exception] {
        df(900 to 905, "x").repartition(1)
          .write.format(fmt).mode("append").option("path", dir).save()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("stale lock")),
        s"stale-lock failure not loud: ${msgs(e)}")
    } finally {
      StoreSink.lockTimeoutNanos = 30L * 1000 * 1000 * 1000
      fs.delete(new Path(dir, "_commit.lock"), false)
    }
  }

  test("commit arbitration is pluggable: the cas coordinator keeps the " +
       "8-way race correct on a filesystem with NO atomic primitives") {
    // object-store semantics: create-exclusive is check-then-create,
    // rename is delete-then-rename (FaultyFs) — the environment where the
    // default fs lock is unsafe by construction and arbitration must come
    // from an external CAS (conditional PUT / DynamoDB lock / catalog)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.faulty.impl", "graft.sources.FaultyFs")
    hconf.set("fs.AbstractFileSystem.faulty.impl", "graft.sources.FaultyAbstractFs")
    val local = new java.io.File("target/tmp/storesink_spec_faulty").getAbsolutePath
    val dir = s"faulty:$local"
    val ffs = new Path(dir).getFileSystem(hconf)
    ffs.delete(new Path(dir), true)
    spark.conf.set(StoreSink.LockProviderKey, "cas")
    try {
      df(0 to 0, "seed").repartition(1)
        .write.format(fmt).mode("overwrite").option("path", dir).save()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      val jobs = (1 to 8).map { i =>
        Future {
          df((i * 100) to (i * 100 + 9), s"g$i").repartition(1)
            .write.format(fmt).mode("append").option("path", dir).save()
        }
      }
      Await.result(Future.sequence(jobs), 120.seconds)
      val files = StoreSink.readManifest(new Path(dir), ffs)
      assert(files.size == 9,
        s"lost update under cas arbitration: expected 9 files, got ${files.size}")
      assert(readBack(dir).size == 81, "rows lost under the faulty-FS race")
      // a row-level rewrite (delete) also commits correctly here
      new StoreTable(dir).deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("grp", "g3")))
      assert(readBack(dir).size == 71)
      // no _commit.lock file was ever used: arbitration never touched the FS
      assert(!ffs.exists(new Path(dir, "_commit.lock")),
        "cas provider must not write filesystem lock files")
    } finally {
      spark.conf.unset(StoreSink.LockProviderKey)
      ffs.delete(new Path(dir), true)
    }
  }

  test("partial compaction rewrites only the files overlapping the key range") {
    val dir = freshDir("partialcompact")
    // three disjoint generations: cold [1,100], warm [101,200], hot
    // fragments [201,260] in three small files
    df(1 to 100, "cold").repartition(1)
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    df(101 to 200, "warm").repartition(1)
      .write.format(fmt).mode("append").option("path", dir).save()
    Seq(201 to 220, 221 to 240, 241 to 260).foreach { ks =>
      df(ks, "hot").repartition(1)
        .write.format(fmt).mode("append").option("path", dir).save()
    }
    val before = StoreSink.readManifest(new Path(dir), fs)
    assert(before.size == 5)
    val (b, a) = StoreSink.compact(spark, dir, 100, Some(201L), None)
    assert(b == 5 && a == 3, s"expected 5 -> 3 files, got $b -> $a")
    val after = StoreSink.readManifest(new Path(dir), fs)
    // cold + warm carried over BY NAME; the three hot fragments merged
    assert(before.take(2).forall(after.contains),
      "partial compaction touched files outside its key range")
    assert(readBack(dir).size == 260, "partial compaction changed content")
    // a range overlapping a single file is a no-op (nothing to merge)
    assert(StoreSink.compact(spark, dir, 100, Some(1L), Some(50L)) == ((3, 3)))
  }

  test("manifest lines round-trip the bloom; legacy lines parse bloomless") {
    val e = StoreSink.StoreFileEntry("f", 10, Some(1L), Some(5L), Some(0x3cL))
    assert(StoreSink.parseEntry(e.line) == e)
    assert(StoreSink.parseEntry("f|10|1|5") ==
      StoreSink.StoreFileEntry("f", 10, Some(1L), Some(5L), None))
    assert(StoreSink.parseEntry("f") == StoreSink.StoreFileEntry("f", -1L, None, None, None))
    assert(!StoreSink.StoreFileEntry("f", 1, None, None, Some(0L))
      .mayContainGrp(Array(StoreSink.grpSig("x"))), "empty bloom must prune")
    assert(StoreSink.StoreFileEntry("f", 1, None, None, None)
      .mayContainGrp(Array(StoreSink.grpSig("x"))), "bloomless entry must never prune")
  }

  test("second zone column: amt stats ride the manifest, prune planning, " +
       "and answer MIN/MAX(amt_cents) pushdown") {
    val dir = freshDir("amtzones")
    import spark.implicits._
    val data = (1 to 400).map(k =>
      (k.toLong, if (k % 2 == 0) "e" else "o", (k % 100) * 7L))
      .toDF("k", "grp", "amt_cents")
    // cluster on AMT so its zones are disjoint while k scatters
    data.repartitionByRange(4, col("amt_cents"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val entries = StoreSink.readEntries(new Path(dir), fs)
    assert(entries.size == 4 &&
      entries.forall(e => e.minA.isDefined && e.maxA.isDefined),
      s"amt zones missing from manifest: ${entries.map(_.line)}")
    // a narrow amt probe plans a strict subset of files, result exact
    val probe = spark.read.format(fmt).option("path", dir).load()
      .where(col("amt_cents") <= 70L)
    val got = probe.collect()
    val (total, kept) = ScanMetrics(probe).plannedFiles
    assert(total == 4 && kept < 4, s"amt zones did not prune: $total/$kept")
    assert(got.map(_.getLong(0)).sorted.toSeq ==
      (1 to 400).filter(k => (k % 100) * 7 <= 70).map(_.toLong),
      "pruned amt read lost or invented rows")
    // unfiltered MIN/MAX(amt_cents) answers from metadata (zero files)
    val mmq = spark.read.format(fmt).option("path", dir).load()
      .agg(min(col("amt_cents")), max(col("amt_cents")))
    val r = mmq.collect()(0)
    assert(ScanMetrics(mmq).aggPush.contains("min_a,max_a"),
      s"amt MIN/MAX not metadata-answered: ${ScanMetrics(mmq).aggPush}")
    assert(r.getLong(0) == 0L && r.getLong(1) == 99L * 7L)
    // a deletion vector turns zones conservative: MIN/MAX must decline
    graft.sources.Sources.withStorePath(spark, dir) {
      spark.sql("DELETE FROM graft.store WHERE k = 7")
      val r2q = spark.table("graft.store")
        .agg(min(col("amt_cents")), max(col("amt_cents")))
      val r2 = r2q.collect()(0)
      assert(ScanMetrics(r2q).aggPush.isEmpty,
        "MIN/MAX pushdown must decline on a vectored entry")
      assert(r2.getLong(0) == 0L && r2.getLong(1) == 99L * 7L)
    }
  }

  test("limit pushdown: exact file-prefix planning; equality masks decline") {
    val dir = freshDir("limitpush")
    df(1 to 40, "a").repartitionByRange(4, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    graft.sources.Sources.withStorePath(spark, dir) {
      // 4 files x 10 rows; LIMIT 15 needs exactly the first 2 files
      // (candidates, files the prefix cut planned; 0 when it declined)
      def limit15(): (Long, Long) = {
        val q = spark.sql("SELECT COUNT(*) FROM (SELECT * FROM graft.store LIMIT 15)")
        assert(q.collect()(0).getLong(0) == 15)
        val m = ScanMetrics(q)
        assert(m.described(" limit=15"), s"limit not pushed: ${m.scans.map(_.scan.description())}")
        (m.sum("partKeptFiles"), m.sum("limitKeptFiles"))
      }
      val cut = limit15()
      assert(cut == ((4L, 2L)), s"expected a 2-file prefix plan, got $cut")
      // an equality-masked store has upper-bound counts only: the cut
      // must decline (full plan) and the limited count stays exact
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try spark.sql("DELETE FROM graft.store WHERE k % 2 = 1")
      finally spark.conf.unset("spark.graft.store.rowlevel.mode")
      assert(StoreSink.readEntries(new Path(dir), fs).exists(_.eq.isDefined),
        "precondition: the delete should have left equality masks")
      val full = limit15()
      assert(full._1 >= 4 && full._2 == 0,
        s"masked entries must decline the prefix cut: $full")
    }
  }

  test("delta MERGE (SupportsDelta): zero data files rewritten — masks + " +
       "appends only, content identical to group-based COW") {
    def seed(dir: String): Unit =
      df(1 to 300, "a").repartitionByRange(4, col("k"))
        .write.format(fmt).mode("overwrite").option("path", dir).save()
    def merge(dir: String): Unit =
      graft.sources.Sources.withStorePath(spark, dir) {
        import spark.implicits._
        Seq(("D", 7L, null.asInstanceOf[String], 0L), ("U", 100L, "u", 42L),
            ("I", 999L, "i", 11L)).toDF("op", "k", "grp", "amt_cents")
          .createOrReplaceTempView("delta_spec_cdc")
        spark.sql("""MERGE INTO graft.store t USING delta_spec_cdc s ON t.k = s.k
                    |WHEN MATCHED AND s.op = 'D' THEN DELETE
                    |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET grp = s.grp, amt_cents = s.amt_cents
                    |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, grp, amt_cents) VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
      }
    val dirG = freshDir("deltamerge_g")
    seed(dirG); merge(dirG) // group-based COW (default mode)
    val dirD = freshDir("deltamerge_d")
    seed(dirD)
    val namesBefore = StoreSink.readEntries(new Path(dirD), fs).map(_.name)
    spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
    try merge(dirD)
    finally spark.conf.unset("spark.graft.store.rowlevel.mode")
    val after = StoreSink.readEntries(new Path(dirD), fs)
    // every pre-existing file survives BY NAME (no -d rewrites); the
    // delete and the update each masked their zone-matched file via an
    // equality sidecar; inserts appended
    assert(namesBefore.forall(after.map(_.name).contains),
      s"delta merge rewrote data files: ${after.map(_.name)}")
    assert(after.exists(_.eq.isDefined), "no equality mask written")
    assert(after.size > namesBefore.size, "no insert file appended")
    assert(readBack(dirD) == readBack(dirG),
      "delta and group MERGE disagree on content")
  }

  test("delta MERGE on a partitioned store: masks attach to partitioned " +
       "entries, inserts route into partition dirs") {
    val dir = freshDir("deltamerge_part")
    import spark.implicits._
    (1 to 200).map(k => (k.toLong, if (k % 2 == 0) "E" else "O", k * 10L))
      .toDF("k", "grp", "amt_cents")
      .write.format(fmt).mode("overwrite")
      .option("path", dir).option("partitionedBy", "identity:grp").save()
    graft.sources.Sources.withStorePath(spark, dir) {
      Seq((4L, "E", 999L), (501L, "N", 1L)).toDF("k", "grp", "amt_cents")
        .createOrReplaceTempView("delta_part_cdc")
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try spark.sql(
        """MERGE INTO graft.store t USING delta_part_cdc s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET amt_cents = s.amt_cents
          |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents) VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
      finally spark.conf.unset("spark.graft.store.rowlevel.mode")
    }
    val after = StoreSink.readEntries(new Path(dir), fs)
    // every entry still carries its partition value (masked ones included),
    // and the brand-new partition value materialized as a new dir'd file
    assert(after.forall(_.part.isDefined), after.map(_.line))
    assert(after.exists(e => e.part.contains("N") && e.name.startsWith("grp=N/")),
      s"insert did not route into its partition dir: ${after.map(_.name)}")
    assert(after.exists(e => e.eq.isDefined && e.part.contains("E")),
      "update did not mask the partitioned entry")
    val got = spark.read.format(fmt).option("path", dir).load()
    assert(got.where(col("k") === 4L).collect()(0).getLong(2) == 999L)
    assert(got.count() == 201)
    // partition pruning still exact over the masked layout
    val n = spark.read.format(fmt).option("path", dir).load()
      .where(col("grp") === "N")
    n.collect()
    assert(ScanMetrics(n).sum("partKeptFiles") == 1,
      s"partition pruning degraded: ${ScanMetrics(n).sum("partKeptFiles")}")
  }

  test("cherry-pick refuses non-append commits and name conflicts; " +
       "re-applies a clean append as a new version") {
    val dir = freshDir("cherry")
    df(1 to 40, "base").write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    df(41 to 60, "a").write.format(fmt).mode("append").option("path", dir).save()     // v2
    graft.sources.Sources.withStorePath(spark, dir) {
      spark.sql("DELETE FROM graft.store WHERE k <= 10") // v3: rewrites lines
      StoreSink.rollback(dir, 1)                         // v4 = v1
      // a commit that removed/rewrote lines must refuse (replaying it
      // against a diverged head would double-delete)
      val e1 = intercept[Exception] { StoreSink.cherryPick(dir, 3) }
      assert(e1.getMessage.contains("not append-only"), e1.getMessage)
      // the clean append re-applies: content = v1 + the 'a' batch
      val (applied, newV) = StoreSink.cherryPick(dir, 2)
      assert(applied >= 1L && newV == 5L, s"($applied, $newV)")
      assert(readBack(dir) ==
        ((1 to 40).map(k => (k.toLong, "base", k * 100L)) ++
         (41 to 60).map(k => (k.toLong, "a", k * 100L))).toSet)
      // picking it again conflicts loudly — its files already sit at head
      val e2 = intercept[Exception] { StoreSink.cherryPick(dir, 2) }
      assert(e2.getMessage.contains("cherry-pick conflict"), e2.getMessage)
    }
  }

  test("hilbert compact: a 2-D rewrite makes BOTH zone columns prunable") {
    val dir = freshDir("zorder")
    import spark.implicits._
    // amt decorrelated from k (odd multiplier mod) — the 2-D worst case for
    // 1-D clustering: range-on-k leaves amt unprunable and vice versa
    val data = (1 to 1600).map(k =>
      (k.toLong, "g", (k.toLong * 2654435761L) % 100000L))
      .toDF("k", "grp", "amt_cents")
    data.repartition(16, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    def planned(c: org.apache.spark.sql.Column): (Long, Long) = {
      val q = spark.read.format(fmt).option("path", dir).load()
        .where(c).agg(count(lit(1)))
      q.collect()
      ScanMetrics(q).plannedFiles
    }
    val kProbe = col("k").between(1L, 100L)
    val aProbe = col("amt_cents").between(0L, 6250L)
    assert(planned(aProbe)._2 == 16, "hash scatter should plan every file")
    val (before, after) = StoreSink.compactHilbert(spark, dir, 100)
    assert(before == 16 && after >= 8, s"unexpected layout change: $before -> $after")
    val (totK, keptK) = planned(kProbe)
    val (totA, keptA) = planned(aProbe)
    assert(keptK * 2 <= totK, s"k probe unpruned after hilbert: $keptK/$totK")
    assert(keptA * 2 <= totA, s"amt probe unpruned after hilbert: $keptA/$totA")
    assert(readBack(dir).size == 1600, "hilbert rewrite changed content")
  }

  test("change data feed across a delta MERGE: masked row nets to its " +
       "delete+insert pair, inserts surface once") {
    val dir = freshDir("deltacdf")
    df(1 to 100, "s").repartitionByRange(2, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save() // v1
    graft.sources.Sources.withStorePath(spark, dir) {
      import spark.implicits._
      Seq((7L, "u", 777L), (500L, "n", 5L)).toDF("k", "grp", "amt_cents")
        .createOrReplaceTempView("delta_cdf_src")
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try spark.sql(
        """MERGE INTO graft.store t USING delta_cdf_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET grp = s.grp, amt_cents = s.amt_cents
          |WHEN NOT MATCHED THEN INSERT (k, grp, amt_cents) VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
      finally spark.conf.unset("spark.graft.store.rowlevel.mode")
    }
    val feed = StoreSink.changes(spark, dir, 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
    assert(feed == Set(
      ("delete", 7L, "s", 700L),   // the masked original
      ("insert", 7L, "u", 777L),   // its replacement (the update pair)
      ("insert", 500L, "n", 5L)),  // the brand-new key
      s"delta CDF drifted: $feed")
  }

  test("delta UPDATE statement: masks + appends carry old-value arithmetic, " +
       "no data files rewritten") {
    val dir = freshDir("deltaupd")
    df(1 to 100, "s").repartitionByRange(2, col("k"))
      .write.format(fmt).mode("overwrite").option("path", dir).save()
    val seedNames = StoreSink.readEntries(new Path(dir), fs).map(_.name)
    graft.sources.Sources.withStorePath(spark, dir) {
      spark.conf.set("spark.graft.store.rowlevel.mode", "delta")
      try spark.sql(
        "UPDATE graft.store SET amt_cents = amt_cents + 5 WHERE k % 10 = 0")
      finally spark.conf.unset("spark.graft.store.rowlevel.mode")
    }
    val after = StoreSink.readEntries(new Path(dir), fs)
    assert(seedNames.forall(after.map(_.name).contains),
      "delta UPDATE rewrote a data file")
    assert(after.exists(_.eq.isDefined), "delta UPDATE wrote no mask")
    assert(readBack(dir) == (1 to 100).map { k =>
      (k.toLong, "s", k * 100L + (if (k % 10 == 0) 5L else 0L))
    }.toSet, "delta UPDATE content drifted")
  }

  test("mergeSchema append auto-registers trailing columns; old rows read " +
       "NULL; a same-shape second merge is a metadata no-op") {
    val dir = freshDir("mergeschema")
    df(1 to 20, "s").write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    import spark.implicits._
    Seq((100L, "w", 1L, "note-a", 7L), (101L, "w", 2L, "note-b", 8L))
      .toDF("k", "grp", "amt_cents", "note", "score")
      .write.format(fmt).mode("append").option("path", dir)
      .option("mergeSchema", "true").save()
    val schemaAfter = StoreSink.readExtras(new Path(dir), fs)
    assert(schemaAfter.map(e => (e.id, e.name)) == Seq((4, "note"), (5, "score")),
      s"merge must register id'd trailing slots: $schemaAfter")
    val all = spark.read.format(fmt).option("path", dir).load()
    assert(all.columns.toSeq == Seq("k", "grp", "amt_cents", "note", "score"))
    assert(all.where(col("k") === 100L).select(col("note"), col("score"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("note-a", 7L)))
    assert(all.where(col("k") <= 20L && col("note").isNull).count() == 20,
      "pre-merge rows must decode the merged columns as NULL")
    // second merge write, same shape: no new slots, rows land
    Seq((102L, "w", 3L, "note-c", 9L))
      .toDF("k", "grp", "amt_cents", "note", "score")
      .write.format(fmt).mode("append").option("path", dir)
      .option("mergeSchema", "true").save()
    assert(StoreSink.readExtras(new Path(dir), fs) == schemaAfter,
      "an already-merged shape must not touch the schema sidecar")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 23)
  }

  test("mergeSchema validates strictly: narrower refuses, prefix type " +
       "conflict refuses, and WITHOUT the option a wider append still " +
       "fails Spark's arity check") {
    val dir = freshDir("mergeschema_neg")
    df(1 to 10, "s").write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    import spark.implicits._
    // no option → the analyzer's TOO_MANY_DATA_COLUMNS still stands
    val wide = Seq((50L, "w", 1L, "x")).toDF("k", "grp", "amt_cents", "note")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      wide.write.format(fmt).mode("append").option("path", dir).save()
    }
    assert(e1.getMessage.contains("TOO_MANY_DATA_COLUMNS") ||
           e1.getMessage.contains("too many data columns"), e1.getMessage)
    // narrower than the table refuses loudly (merge only ADDS)
    val e2 = intercept[Exception] {
      Seq((50L, "w")).toDF("k", "grp")
        .write.format(fmt).mode("append").option("path", dir)
        .option("mergeSchema", "true").save()
    }
    assert(e2.getMessage.contains("NARROWER"), e2.getMessage)
    // a prefix type conflict refuses (mergeSchema never retypes)
    val e3 = intercept[Exception] {
      Seq(("a", "w", 1L)).toDF("k", "grp", "amt_cents")
        .write.format(fmt).mode("append").option("path", dir)
        .option("mergeSchema", "true").save()
    }
    assert(e3.getMessage.contains("ALTER COLUMN TYPE"), e3.getMessage)
    // an unsupported trailing type refuses
    val e4 = intercept[Exception] {
      Seq((50L, "w", 1L, 0.5)).toDF("k", "grp", "amt_cents", "ratio")
        .write.format(fmt).mode("append").option("path", dir)
        .option("mergeSchema", "true").save()
    }
    assert(e4.getMessage.contains("int|bigint|string|farr"), e4.getMessage)
    // nothing of the refused writes landed
    assert(spark.read.format(fmt).option("path", dir).load().count() == 10)
    assert(StoreSink.readExtras(new Path(dir), fs).isEmpty,
      "refused merges must not leave schema edits behind")
    // streaming + mergeSchema refuses: the option's capability grant
    // reaches streaming resolution, but toStreaming never merges — a
    // wider frame would otherwise emit raw-width rows under a narrower
    // layout (the refusal IS the guard)
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Long)]
    mem.addData((1L, "s", 1L))
    val chk = freshDir("mergeschema_neg_chk")
    val err = intercept[Exception] {
      val q = mem.toDF().toDF("k", "grp", "amt_cents")
        .writeStream.format(fmt).option("path", dir)
        .option("checkpointLocation", chk)
        .option("mergeSchema", "true")
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(err).contains("batch-write option"), chain(err))
  }

  test("inParallel: when both branches fail, the first rethrows with the second suppressed") {
    val err = intercept[IllegalStateException] {
      StoreSink.inParallel[Int, Int](throw new IllegalStateException("a failed"))(
        throw new IllegalArgumentException("b failed"))
    }
    assert(err.getMessage == "a failed")
    assert(err.getSuppressed.map(_.getMessage).toSeq == Seq("b failed"))
  }
}
