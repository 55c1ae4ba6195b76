package graft.sources

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** COLUMNAR AT-REST ENCODING (StoreSink.scala `#GC1` grammar): the second
  * data-file format under the SAME manifest grammar. What these tests pin:
  *  - files are self-identifying (magic), so one manifest carries text and
  *    columnar generations side by side — encoding flips are per-file facts,
  *    never table rewrites;
  *  - a narrow projection READS ONLY ITS BLOCKS (the scan's block counts) —
  *    the within-file scan cost the row format could not shed;
  *  - every mask/maintenance path (dv, eq, COW absorb) is encoding-blind;
  *  - values round-trip bit-identically under either encoding (shared
  *    per-field codec).
  */
class StoreColumnarSpec extends SparkSpec {

  private val fmt = "graft.sources.StoreSink"
  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def df(ks: Range, grp: String): DataFrame = {
    import spark.implicits._
    ks.map(k => (k.toLong, grp, k.toLong * 100)).toDF("k", "grp", "amt_cents")
  }

  private def freshDir(name: String): String = {
    val dir = s"target/tmp/storecol_spec_$name"
    fs.delete(new Path(dir), true)
    dir
  }

  private def markColumnar(dir: String): Unit =
    StoreSink.setProp(dir, StoreSink.EncodingProp, "columnar")

  private def readBack(dir: String): Set[(Long, String, Long)] =
    spark.read.format(fmt).option("path", dir).load()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  /** Run `body` with graft.store bound to `dir`. */
  private def withStore[T](dir: String)(body: => T): T = {
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try body
    finally spark.conf.unset(GraftCatalog.StorePathKey)
  }

  private def isColumnar(dir: String, name: String): Boolean = {
    val in = fs.open(new Path(dir, name))
    val buf = new Array[Byte](5)
    val n = try in.read(buf) finally in.close()
    n == 5 && new String(buf, "UTF-8") == "#GC1 "
  }

  private def dataFiles(dir: String): Seq[String] =
    StoreSink.readEntries(new Path(dir), fs).map(_.name)

  test("columnar round-trip: same rows as text, files carry the magic") {
    val tdir = freshDir("rt_text"); val cdir = freshDir("rt_col")
    // values stress the field codec: url-escaped comma/percent/newline,
    // unicode, empty string, nulls in every column
    import org.apache.spark.sql.Row
    val rows = java.util.Arrays.asList(
      Row(1L, "plain", 100L), Row(2L, "a,b|c%d", 200L), Row(3L, "nl\nnl", 300L),
      Row(4L, "日本語", 400L), Row(5L, "", 500L), Row(6L, null, 600L),
      Row(null, "nullk", null))
    val base = spark.createDataFrame(rows, StoreSink.schema)
    base.write.format(fmt).mode("overwrite").option("path", tdir).save()
    markColumnar(cdir)
    base.write.format(fmt).mode("append").option("path", cdir).save()
    assert(dataFiles(cdir).forall(isColumnar(cdir, _)), "expected #GC1 files")
    assert(dataFiles(tdir).forall(!isColumnar(tdir, _)))
    val t = spark.read.format(fmt).option("path", tdir).load().collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    val c = spark.read.format(fmt).option("path", cdir).load().collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))).toSet
    assert(t == c, "the two encodings decoded different rows")
  }

  test("narrow projection reads only its blocks; COUNT(*) reads none") {
    val dir = freshDir("proj")
    markColumnar(dir)
    df(1 to 1000, "g").write.format(fmt).mode("append").option("path", dir).save()
    assert(scansOf {
      val ks = spark.read.format(fmt).option("path", dir).load()
        .select(col("k")).collect().map(_.getLong(0)).toSet
      assert(ks == (1L to 1000L).toSet)
    }.readEach(1, 3), "single-column projection must read one block of three")
    // a zero-column scan (no masks needing keys) reads the header alone —
    // zero blocks (a plain COUNT(*) never even gets here: metadata agg
    // pushdown answers it without planning files)
    assert(scansOf {
      assert(spark.read.format(fmt).option("path", dir).load()
        .select(lit(1).as("one")).collect().length == 1000)
    }.readEach(0, 3), "zero-column scan must read no block")
  }

  test("dv + eq masks and COW absorb are encoding-blind") {
    val dir = freshDir("masks")
    markColumnar(dir)
    df(1 to 500, "g").repartitionByRange(2, col("k"))
      .write.format(fmt).mode("append").option("path", dir).save()
    withStore(dir) {
      // few-row delete -> deletion-vector sidecar, data files untouched
      spark.sql("DELETE FROM graft.store WHERE k in (3, 7)")
      val entries1 = StoreSink.readEntries(new Path(dir), fs)
      assert(entries1.exists(_.dv.isDefined), "expected a dv sidecar")
      assert(readBack(dir).map(_._1) == ((1L to 500L).toSet -- Set(3L, 7L)))
      // equality delete (metadata-only) masks by key through the key block
      StoreSink.equalityDelete(dir, Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In("k", Array[Any](10L, 11L))))
      assert(StoreSink.readEntries(new Path(dir), fs).exists(_.eq.isDefined))
      // a projection NOT containing k still applies the key mask (the key
      // block joins the read set)
      // (counts sum over groups: a masked group reads 2 blocks, others 1)
      val masked = scansOf {
        assert(spark.read.format(fmt).option("path", dir).load()
          .select(col("grp")).collect().length == 496)
      }
      val (read, groups) = (masked.sum("colBlocksRead"), masked.sum("colGroupsRead"))
      assert(read > groups && read <= 2 * groups,
        s"eq-masked grp scan read $read blocks in $groups groups — wanted grp+key")
      // bulk delete -> COW rewrite; replacement files are columnar and clean
      spark.sql("DELETE FROM graft.store WHERE k > 100")
      val entries2 = StoreSink.readEntries(new Path(dir), fs)
      assert(entries2.forall(e => e.dv.isEmpty && e.eq.isEmpty),
        "COW rewrite should absorb every mask")
      // (a fully-emptied file rewrites as 0 bytes — a valid 0-row file
      // under EITHER encoding; only row-bearing replacements carry blocks)
      assert(entries2.filter(_.rows > 0).map(_.name).forall(isColumnar(dir, _)),
        "COW replacement files should stay columnar")
      assert(readBack(dir).map(_._1) ==
        ((1L to 100L).toSet -- Set(3L, 7L, 10L, 11L)))
    }
  }

  test("mixed generations: text files and columnar files under one manifest") {
    val dir = freshDir("mixed")
    df(1 to 100, "old").write.format(fmt).mode("overwrite")
      .option("path", dir).save()
    markColumnar(dir) // the flip: NEW files columnar, old files untouched
    df(101 to 200, "new").write.format(fmt).mode("append")
      .option("path", dir).save()
    val names = dataFiles(dir)
    assert(names.exists(!isColumnar(dir, _)) && names.exists(isColumnar(dir, _)),
      "expected one text and one columnar generation")
    assert(readBack(dir).size == 200, "mixed-encoding union misread")
    // time travel to the pre-flip generation still decodes text
    val v1 = withStore(dir) {
      spark.sql("SELECT * FROM graft.store VERSION AS OF 1").collect()
    }
    assert(v1.length == 100 && v1.forall(_.getString(1) == "old"))
    // compaction of the MIXED inputs rewrites everything columnar
    StoreSink.compact(spark, dir, 1000000L)
    val after = dataFiles(dir)
    assert(after.forall(isColumnar(dir, _)),
      "compaction should emit the table's current encoding")
    assert(readBack(dir).size == 200)
  }

  test("streaming epoch writes produce columnar files under the same " +
       "ledger (encoding is write-path-blind)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir("stream")
    val chk = freshDir("stream_chk")
    markColumnar(dir)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, Long)]
    val q = mem.toDF().toDF("k", "grp", "amt_cents")
      .writeStream.format(fmt)
      .option("path", dir).option("checkpointLocation", chk)
      .outputMode("append").start()
    try {
      mem.addData((1 to 40).map(k => (k.toLong, "s1", k * 10L)): _*)
      q.processAllAvailable()
      mem.addData((41 to 60).map(k => (k.toLong, "s2", k * 10L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val entries = StoreSink.readEntries(new Path(dir), fs).filter(_.rows > 0)
    assert(entries.nonEmpty && entries.map(_.name).forall(isColumnar(dir, _)),
      "streaming epochs must write the table's declared encoding")
    assert(readBack(dir).size == 60)
    assert(StoreSink.readManifestLines(new Path(dir), fs)
      .count(_.startsWith("#epoch=")) >= 2, "epoch ledger must still ride")
  }

  test("storage-partitioned join stays exchange-free over a bucketed " +
       "store with MIXED text+columnar bucket files") {
    val ctas = s"target/tmp/storecol_spec_spj"
    fs.delete(new Path(ctas), true)
    graft.GraftSession.withConf(spark)(
        GraftCatalog.CtasDirKey -> ctas,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      spark.sql("DROP TABLE IF EXISTS graft.colspj_a")
      spark.sql("DROP TABLE IF EXISTS graft.colspj_b")
      import spark.implicits._
      (1 to 200).map(k => (k.toLong, "g" + (k % 3), k * 100L))
        .toDF("k", "grp", "amt_cents").createOrReplaceTempView("colspj_src")
      spark.sql("""CREATE TABLE graft.colspj_a PARTITIONED BY (bucket(4, k))
        |AS SELECT * FROM colspj_src""".stripMargin)
      spark.sql("""CREATE TABLE graft.colspj_b PARTITIONED BY (bucket(4, k))
        |AS SELECT k, grp, amt_cents * 2 AS amt_cents FROM colspj_src""".stripMargin)
      // the encoding flip lands mid-table: later bucket files are columnar
      spark.sql("ALTER TABLE graft.colspj_a SET TBLPROPERTIES" +
        "('graft.store.encoding'='columnar')")
      spark.sql("INSERT INTO graft.colspj_a SELECT k + 200, grp, amt_cents " +
        "FROM colspj_src WHERE k <= 40")
      val rootA = new Path(s"$ctas/colspj_a")
      val names = StoreSink.readEntries(rootA, fs).map(_.name)
      assert(names.exists(n => isColumnar(s"$ctas/colspj_a", n)) &&
        names.exists(n => !isColumnar(s"$ctas/colspj_a", n)),
        "fixture: want mixed bucket files")
      // the JOIN subplan must be exchange-free (a global aggregate on top
      // would legitimately add its own SinglePartition exchange)
      val j = spark.table("graft.colspj_a").as("a")
        .join(spark.table("graft.colspj_b").as("b"), "k")
        .select(col("k"), col("a.amt_cents").as("x"), col("b.amt_cents").as("y"))
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "SPJ must stay exchange-free over mixed-encoding bucket files")
      val rows = j.collect()
      assert(rows.length == 200, s"join cardinality: ${rows.length}")
      assert(rows.map(r => r.getLong(1) * 2 == r.getLong(2)).forall(identity))
      spark.sql("DROP TABLE graft.colspj_a")
      spark.sql("DROP TABLE graft.colspj_b")
    }
  }

  test("multi-group files (graft.store.group.rows): ordinals and masks run " +
       "across groups, memory-bounded reads stay correct") {
    val dir = freshDir("groups")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(dir, StoreSink.CompressProp, "deflate") // compose both
    df(1 to 950, "g").coalesce(1)
      .write.format(fmt).mode("append").option("path", dir).save()
    val name = StoreSink.readEntries(new Path(dir), fs).head.name
    // 10 groups of ≤100 rows in ONE file: count the magic headers
    val in = fs.open(new Path(dir, name))
    val all = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    val magics = new String(all, java.nio.charset.StandardCharsets.ISO_8859_1)
      .sliding(5).count(_ == "#GC2 ")
    assert(magics == 10, s"expected 10 groups, saw $magics")
    assert(readBack(dir).map(_._1) == (1L to 950L).toSet)
    // dv mask ordinals are FILE-wide: delete rows living in different
    // groups and in the group-boundary row
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k in (1, 100, 101, 555, 950)")
    }
    assert(readBack(dir).map(_._1) ==
      ((1L to 950L).toSet -- Set(1L, 100L, 101L, 555L, 950L)))
    // narrow projection still reads one block per group
    val narrow = scansOf {
      assert(spark.read.format(fmt).option("path", dir).load()
        .select(col("amt_cents")).collect().length == 945)
    }
    val (blocks, groups) = (narrow.sum("colBlocks"), narrow.sum("colGroupsRead"))
    assert(groups > 0 && blocks == 3 * groups)
    // offset pushdown's boundary row-skip crosses group boundaries
    val off = spark.read.format(fmt).option("path", dir).load()
      .orderBy(col("k")).offset(300).limit(2).collect().map(_.getLong(0))
    assert(off.toSeq == Seq(304L, 305L), s"offset across groups: ${off.toSeq}")
  }

  test("dictionary blocks: d-tag self-identification, round-trip, masks, " +
       "equality dict-skip, and the size guard keeps short values plain") {
    import spark.implicits._
    val dir = freshDir("dict")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(dir, StoreSink.DictProp, "on")
    val rows = (0 until 300).map(i => (i.toLong, s"region-${i / 100}", i * 10L))
    rows.toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", dir).save()
    def dictFlagsOf(d: String): Seq[Array[Boolean]] = {
      val e = StoreSink.readEntries(new Path(d), fs).filter(_.rows > 0).head
      val p = new Path(d, e.name)
      val in = fs.open(p)
      try StoreSink.readColGroups(in, fs.getFileStatus(p).getLen)
        .get.map(_.dictFlags)
      finally in.close()
    }
    // the grp block (slot 1) dict-encodes in every group; k/amt stay plain
    assert(dictFlagsOf(dir).forall(f => f(1) && !f(0) && !f(2)))
    assert(readBack(dir) == rows.toSet, "dict blocks must round-trip")
    // block-local predicate index: 'region-2' lives only in group 2 (k
    // sorted, 100 rows per group) — the other groups' dictionaries lack
    // it and skip after ONE block read
    val (r, t) = scansOf {
      val n2 = spark.read.format(fmt).option("path", dir).load()
        .where(col("grp") === "region-2").count()
      assert(n2 == 100, s"$n2")
    }.groups
    assert(t == 3 && r == 1, s"dictionary pre-check must skip groups: $r of $t")
    // LIKE-'p%' rides the same one-block pre-check (round-12 verdict #7):
    // 'region-2%' matches nothing in groups 0/1's dictionaries — skipped;
    // a prefix matching EVERY group ('region-%') skips nothing
    val (rl, tl) = scansOf {
      val nLike = spark.read.format(fmt).option("path", dir).load()
        .where(col("grp").like("region-2%")).count()
      assert(nLike == 100, s"$nLike")
    }.groups
    assert(tl == 3 && rl == 1, s"prefix pre-check must skip groups: $rl of $tl")
    assert(scansOf(assert(spark.read.format(fmt).option("path", dir).load()
      .where(col("grp").like("region-%")).count() == 300)).groups._1 == 3,
      "an all-matching prefix must not skip anything")
    // masks stay ordinal-correct over dict blocks
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k IN (5, 150, 250)")
    }
    assert(readBack(dir) == rows.filterNot(r0 =>
      Set(5L, 150L, 250L)(r0._1)).toSet)
    // a COW rewrite keeps the dictionary AND group stats (maintenance
    // must not silently degrade the layout — review catch)
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k >= 200")
    }
    val cowGroups = {
      val e2 = StoreSink.readEntries(new Path(dir), fs).filter(_.rows > 0).head
      val p2 = new Path(dir, e2.name)
      val in2 = fs.open(p2)
      try StoreSink.readColGroups(in2, fs.getFileStatus(p2).getLen).get
      finally in2.close()
    }
    assert(cowGroups.forall(h => h.dictFlags(1) && h.gstats.contains(0)),
      "COW replacements must keep dict blocks and per-group key stats")
    // 1-char values: ordinals cost as much as the values — stays plain
    val plain = freshDir("dict_plain")
    markColumnar(plain)
    StoreSink.setProp(plain, StoreSink.DictProp, "on")
    (0 until 100).map(i => (i.toLong, "x", 0L)).toDF("k", "grp", "amt_cents")
      .repartition(1)
      .write.format(fmt).mode("append").option("path", plain).save()
    assert(dictFlagsOf(plain).forall(_.forall(!_)),
      "the size guard must keep short-value blocks plain")
  }

  test("RLE blocks: r-tag self-identification, round-trip, masks, COW " +
       "keeps the layout, deflate composes, size guard, torn runs loud") {
    import spark.implicits._
    val dir = freshDir("rle")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(dir, StoreSink.RleProp, "on")
    // amt = 3 long runs per group (k-sorted); k unique — must stay plain
    val rows = (0 until 300).map(i => (i.toLong, s"g${i % 7}", (i / 100) * 10L))
    rows.toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", dir).save()
    def groupsOf(d: String): Seq[StoreSink.ColHeader] = {
      val e = StoreSink.readEntries(new Path(d), fs).filter(_.rows > 0).head
      val p = new Path(d, e.name)
      val in = fs.open(p)
      try StoreSink.readColGroups(in, fs.getFileStatus(p).getLen).get
      finally in.close()
    }
    // the amt block (slot 2) run-encodes in every group; k stays plain
    // (unique values can't shrink), grp is a string slot (never RLE)
    assert(groupsOf(dir).forall(h =>
      h.isRle(2) && !h.isRle(0) && !h.isRle(1) && !h.isDict(2)))
    assert(readBack(dir) == rows.toSet, "RLE blocks must round-trip")
    // masks stay ordinal-correct over run-encoded blocks
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k IN (5, 150, 250)")
    }
    assert(readBack(dir) == rows.filterNot(r0 =>
      Set(5L, 150L, 250L)(r0._1)).toSet)
    // a COW rewrite keeps the run encoding AND group stats (maintenance
    // must not silently degrade the layout — the dict review-catch rule)
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k >= 200")
    }
    assert(groupsOf(dir).forall(h => h.isRle(2) && h.gstats.contains(0)),
      "COW replacements must keep RLE blocks and per-group key stats")
    // composes with deflate (#GC2): rle-then-compress round-trips
    val zdir = freshDir("rle_zip")
    markColumnar(zdir)
    StoreSink.setProp(zdir, StoreSink.RleProp, "on")
    StoreSink.setProp(zdir, StoreSink.CompressProp, "deflate")
    rows.toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", zdir).save()
    assert(groupsOf(zdir).forall(h => h.compressed && h.isRle(2)))
    assert(readBack(zdir) == rows.toSet, "RLE+deflate must round-trip")
    // size guard: a unique integer column never qualifies
    val plain = freshDir("rle_plain")
    markColumnar(plain)
    StoreSink.setProp(plain, StoreSink.RleProp, "on")
    (0 until 100).map(i => (i.toLong, "x", i * 7L)).toDF("k", "grp", "amt_cents")
      .repartition(1).sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", plain).save()
    assert(groupsOf(plain).forall(h => !h.isRle(0) && !h.isRle(2)),
      "the size guard must keep unique-value blocks plain")
    // torn run lists are LOUD, never a silent short/shifted decode
    intercept[IllegalArgumentException] {
      StoreSink.parseRleBlock("3*1,2*5", 6) // covers 5 of 6 rows
    }
    intercept[IllegalArgumentException] {
      StoreSink.parseRleBlock("3*1,4*5", 6) // covers 7 of 6 rows
    }
    intercept[IllegalArgumentException] {
      StoreSink.parseRleBlock("3*1,x", 4) // runs must carry a count
    }
  }

  test("dict-RLE composed blocks (e-tag): round-trip, dict-skip is " +
       "layout-blind, COW keeps the layout, runless ordinals stay d, " +
       "torn runs loud") {
    import spark.implicits._
    val dir = freshDir("dictrle")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(dir, StoreSink.DictProp, "on")
    StoreSink.setProp(dir, StoreSink.RleProp, "on")
    // k-sorted, grp flips every 100 rows = one ordinal RUN per group —
    // the clustered shape where e must beat d
    val rows = (0 until 300).map(i => (i.toLong, s"region-${i / 100}", i * 10L))
    rows.toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", dir).save()
    def groupsOf(d: String): Seq[StoreSink.ColHeader] = {
      val e = StoreSink.readEntries(new Path(d), fs).filter(_.rows > 0).head
      val p = new Path(d, e.name)
      val in = fs.open(p)
      try StoreSink.readColGroups(in, fs.getFileStatus(p).getLen).get
      finally in.close()
    }
    // grp (slot 1) composes to e; unique k/amt stay plain (the size guard
    // refuses integer RLE that can't pay)
    assert(groupsOf(dir).forall(h =>
      h.isDictRle(1) && !h.isDict(1) && !h.isRle(0) && !h.isRle(2)),
      s"${groupsOf(dir).map(h => h.dictRleFlags.toSeq)}")
    assert(readBack(dir) == rows.toSet, "e blocks must round-trip")
    // the dictionary predicate index is LAYOUT-BLIND: 'region-2' absent
    // from groups 0/1's e-block dictionaries — skipped after one block
    val eSkip = scansOf(assert(spark.read.format(fmt).option("path", dir).load()
      .where(col("grp") === "region-2").count() == 100)).groups
    assert(eSkip == ((1L, 3L)), s"e-block dict-skip: $eSkip")
    // masks stay ordinal-correct through run-decoded ordinals
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k IN (5, 150, 250)")
    }
    assert(readBack(dir) == rows.filterNot(r0 =>
      Set(5L, 150L, 250L)(r0._1)).toSet)
    // a COW rewrite re-derives the composed layout (maintenance must not
    // silently degrade e back to d or plain — the dict review-catch rule)
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k >= 200")
    }
    assert(groupsOf(dir).forall(h => h.isDictRle(1) && h.gstats.contains(0)),
      "COW replacements must keep e blocks and per-group key stats")
    // alternating values = 150 runs of 1: the run form can't pay — the
    // provably-smaller chain stops at d
    val ddir = freshDir("dictrle_d")
    markColumnar(ddir)
    StoreSink.setProp(ddir, StoreSink.DictProp, "on")
    StoreSink.setProp(ddir, StoreSink.RleProp, "on")
    (0 until 300).map(i =>
        (i.toLong, if (i % 2 == 0) "alpha-value" else "beta-value", 0L))
      .toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", ddir).save()
    assert(groupsOf(ddir).forall(h => h.isDict(1) && !h.isDictRle(1)),
      "runless ordinals must keep the plain-ordinal dictionary")
    // torn e blocks are LOUD, never a silent short/shifted/alias decode
    intercept[IllegalArgumentException] {
      StoreSink.parseDictRleBlock("2|a,b|3*0,2*1", 6) // covers 5 of 6
    }
    intercept[IllegalArgumentException] {
      StoreSink.parseDictRleBlock("2|a,b|3*0,4*1", 6) // covers 7 of 6
    }
    intercept[IllegalArgumentException] {
      StoreSink.parseDictRleBlock("2|a,b|3*5", 3) // ordinal 5 >= 2
    }
    intercept[IllegalArgumentException] {
      StoreSink.parseDictRleBlock("2|a,b|x", 1) // runs must carry a count
    }
  }

  test("dictionary composes with deflate (#GC2) and the streaming write " +
       "path: dict-then-compress blocks round-trip and still dict-skip") {
    import spark.implicits._
    val dir = freshDir("dictzip")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(dir, StoreSink.DictProp, "on")
    StoreSink.setProp(dir, StoreSink.CompressProp, "deflate")
    val rows = (0 until 300).map(i => (i.toLong, s"region-${i / 100}", i * 10L))
    rows.toDF("k", "grp", "amt_cents").repartition(1)
      .sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", dir).save()
    // GC2 magic + d-tagged grp block in one header
    val e = StoreSink.readEntries(new Path(dir), fs).filter(_.rows > 0).head
    val p = new Path(dir, e.name)
    val in = fs.open(p)
    val groups = try StoreSink.readColGroups(in, fs.getFileStatus(p).getLen).get
      finally in.close()
    assert(groups.forall(h => h.compressed && h.dictFlags(1)),
      "dict + deflate must coexist per block")
    assert(readBack(dir) == rows.toSet)
    val zSkip = scansOf(assert(spark.read.format(fmt).option("path", dir).load()
      .where(col("grp") === "region-0").count() == 100)).groups
    assert(zSkip == ((1L, 3L)), s"dict-skip must work through inflation: $zSkip")
    // streaming epoch write inherits all three properties
    val sdir = freshDir("dictzip_stream")
    markColumnar(sdir)
    StoreSink.setProp(sdir, StoreSink.GroupRowsProp, "100")
    StoreSink.setProp(sdir, StoreSink.DictProp, "on")
    StoreSink.setProp(sdir, StoreSink.CompressProp, "deflate")
    val chk = freshDir("dictzip_chk")
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long](1)
    mem.addData(0L until 300L: _*)
    val q = mem.toDF().select(col("value").as("k"),
        concat(lit("region-"), (col("value") / 100).cast("long")).as("grp"),
        (col("value") * 10).as("amt_cents"))
      .writeStream.format(fmt).option("path", sdir)
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val se = StoreSink.readEntries(new Path(sdir), fs).filter(_.rows > 0)
    assert(se.nonEmpty)
    val sp0 = new Path(sdir, se.head.name)
    val sin = fs.open(sp0)
    val sg = try StoreSink.readColGroups(sin, fs.getFileStatus(sp0).getLen).get
      finally sin.close()
    assert(sg.forall(_.compressed) && sg.exists(_.dictFlags(1)),
      "streaming epoch files must honor dict + deflate")
    assert(readBack(sdir) == rows.toSet)
  }

  test("per-group zone stats: a pushed k-range skips whole groups, dv " +
       "ordinals stay aligned across skips, COW replacements keep the " +
       "key stats, and row-level rewrites never group-skip") {
    val dir = freshDir("gzone")
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.GroupRowsProp, "100")
    // one file, 5 groups of 100, k sorted → disjoint per-group k zones
    df(0 until 500, "a").repartition(1).sortWithinPartitions("k")
      .write.format(fmt).mode("append").option("path", dir).save()
    withStore(dir) {
      // dv mask spread across the file (multiples of 97)
      spark.sql("DELETE FROM graft.store WHERE k IN (0, 97, 194, 291, 388, 485)")
      assert(StoreSink.readEntries(new Path(dir), fs).exists(_.dv.isDefined),
        "fixture: the selective delete must attach a dv")
      // mid-file range: groups 0-1 and 4 skip, 2-3 load; the dv'd keys
      // 194/291 fall INSIDE the read range — a reader that forgot to
      // advance ordinals past skipped groups would mask the wrong rows
      val (read, total) = scansOf {
        val got = spark.table("graft.store").where(col("k").between(200, 399))
          .select(col("k")).collect().map(_.getLong(0)).toSet
        assert(got == (200 to 399).toSet - 291L - 388L, s"${got.size} rows")
      }.groups
      assert(total == 5 && read == 2,
        s"a mid-file range must decode only its groups: $read of $total")
      // a COW rewrite (bulk delete) keeps slot-0 group stats in the
      // replacement file: the next ranged read still skips
      spark.sql("DELETE FROM graft.store WHERE k >= 400")
      val (r2, t2) = scansOf {
        val n = spark.table("graft.store").where(col("k") < 100).count()
        assert(n == 98, s"$n") // 0 and 97 deleted
      }.groups
      assert(r2 < t2, s"COW replacement must keep group stats: $r2 of $t2")
      // row-level COW (UPDATE) must read whole files — no static pushdown
      // reaches its scan, so nothing can be skipped out of the rewrite
      spark.sql("UPDATE graft.store SET amt_cents = amt_cents + 1 " +
        "WHERE k BETWEEN 100 AND 109")
      val live = spark.table("graft.store").count()
      assert(live == 395, s"rows must survive a row-level rewrite intact: $live")
      val updSum = spark.table("graft.store").where(col("k").between(100, 109))
        .agg(sum(col("amt_cents"))).collect()(0).getLong(0)
      assert(updSum == (100 to 109).map(_ * 100L + 1).sum, s"$updSum")
    }
  }

  test("deflated blocks (#GC2): round-trip, masks, narrow skip, COW keeps " +
       "compression, files shrink") {
    val plain = freshDir("zip_plain"); val dir = freshDir("zip")
    markColumnar(plain)
    markColumnar(dir)
    StoreSink.setProp(dir, StoreSink.CompressProp, "deflate")
    val rows = df(1 to 2000, "grpvalue-repetitive-text")
    rows.coalesce(1).write.format(fmt).mode("append").option("path", plain).save()
    rows.coalesce(1).write.format(fmt).mode("append").option("path", dir).save()
    def bytesOf(d: String): Long =
      StoreSink.readEntries(new Path(d), fs).flatMap(_.bytes).sum
    assert(bytesOf(dir) < bytesOf(plain) / 2,
      s"deflate should shrink repetitive blocks: ${bytesOf(dir)} vs ${bytesOf(plain)}")
    assert(spark.read.format(fmt).option("path", dir).load().collect().toSet ==
      spark.read.format(fmt).option("path", plain).load().collect().toSet)
    // narrow projection still skips blocks (inflate only what's projected)
    assert(scansOf(assert(spark.read.format(fmt).option("path", dir).load()
      .select(col("k")).collect().length == 2000)).readEach(1, 3))
    // dv mask + COW rewrite: the replacement stays compressed (#GC2)
    withStore(dir) {
      spark.sql("DELETE FROM graft.store WHERE k in (5, 6)") // dv
      assert(spark.read.format(fmt).option("path", dir).load().count() == 1998)
      spark.sql("DELETE FROM graft.store WHERE k > 500") // COW
    }
    val entries = StoreSink.readEntries(new Path(dir), fs).filter(_.rows > 0)
    entries.foreach { e =>
      val in = fs.open(new Path(new Path(dir), e.name))
      val buf = new Array[Byte](5)
      val n = try in.read(buf) finally in.close()
      assert(n == 5 && new String(buf, "UTF-8") == "#GC2 ",
        s"COW replacement ${e.name} lost compression")
    }
    assert(spark.read.format(fmt).option("path", dir).load()
      .agg(org.apache.spark.sql.functions.sum(col("k"))).collect()(0).getLong(0) ==
      (1L to 500L).sum - 11L)
  }

  test("LIMIT/TopN/OFFSET pushdown compose with columnar files (planning " +
       "is manifest-level; the row reads decode blocks)") {
    val dir = freshDir("push")
    markColumnar(dir)
    df(1 to 1000, "g").repartitionByRange(4, col("k"))
      .write.format(fmt).mode("append").option("path", dir).save()
    def store = spark.read.format(fmt).option("path", dir).load()
    // LIMIT: a live-row-count file prefix
    // (candidates, files the cut planned; 0 when no cut ran)
    def cut(df: DataFrame) = {
      val m = ScanMetrics(df); (m.sum("partKeptFiles"), m.sum("limitKeptFiles"))
    }
    val lim = store.limit(10)
    assert(lim.collect().length == 10)
    val (t, p) = cut(lim)
    assert(p < t && p >= 1, s"limit should plan a file prefix: ${cut(lim)}")
    // TopN: zone-ordered coverage; values must be the true top
    val topq = store.orderBy(col("k").desc).limit(5)
    val top = topq.collect().map(_.getLong(0))
    assert(top.toSeq == (996 to 1000).reverse.map(_.toLong),
      s"topn over columnar misread: ${top.toSeq}")
    val (tt, tp) = cut(topq)
    assert(tp < tt && tp >= 1, s"topn should plan zone coverage: ${cut(topq)}")
    // OFFSET: whole-file drop + boundary row-skip into a columnar file
    val off = store.orderBy(col("k")).offset(300).limit(3)
      .collect().map(_.getLong(0))
    assert(off.toSeq == Seq(301L, 302L, 303L), s"offset misread: ${off.toSeq}")
  }

  test("farr round-trips bit patterns exactly under BOTH encodings " +
       "(NaN, infinities, signed zero, subnormals)") {
    import spark.implicits._
    val edge = Array(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity,
      -0.0f, 0.0f, Float.MinPositiveValue, -1.17549435e-38f, 3.4028235e38f)
    val rows = Seq((1L, "g", 0L, edge), (2L, "g", 0L, Array(1.5f, -2.25f)))
    for (colEnc <- Seq(false, true)) {
      val dir = freshDir(s"farr_$colEnc")
      StoreSink.writeExtras(new Path(dir), fs, StoreSink.extrasOf(Seq(
        org.apache.spark.sql.types.StructField("emb",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
      if (colEnc) markColumnar(dir)
      rows.toDF("k", "grp", "amt_cents", "emb")
        .write.format(fmt).mode("append").option("path", dir).save()
      val got = spark.read.format(fmt).option("path", dir).load()
        .collect().map(r => (r.getLong(0),
          r.getSeq[Float](3).map(java.lang.Float.floatToIntBits).toSeq)).toMap
      val want = rows.map(r => (r._1,
        r._4.toSeq.map(java.lang.Float.floatToIntBits))).toMap
      assert(got == want, s"farr bit drift under columnar=$colEnc")
    }
  }

  test("short columnar files pad defaults; widening stays metadata-only") {
    val dir = freshDir("evolve")
    markColumnar(dir)
    df(1 to 10, "g").write.format(fmt).mode("append").option("path", dir).save()
    // evolve: one added bigint column with an initial default (sidecar
    // write mimics ALTER ADD COLUMN — GraftCatalogSpec covers the SQL path)
    StoreSink.writeExtras(new Path(dir), fs, Seq(
      StoreSink.ExtraField(4, "score", org.apache.spark.sql.types.LongType,
        rawDefault = Some("42"))))
    import spark.implicits._
    (11 to 15).map(k => (k.toLong, "g", k * 100L, k.toLong)).toDF(
      "k", "grp", "amt_cents", "score")
      .write.format(fmt).mode("append").option("path", dir).save()
    val got = spark.read.format(fmt).option("path", dir).load()
      .select(col("k"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (1 to 10).map(k => (k.toLong, 42L)).toSet ++
      (11 to 15).map(k => (k.toLong, k.toLong)).toSet
    assert(got == want, "short-file initial-default decode drifted")
  }
}
