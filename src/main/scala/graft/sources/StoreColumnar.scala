package graft.sources

import graft.{Local, Tables}
import graft.ops.OpModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** COLUMNAR AT-REST ENCODING battery (SURVEY.md §2.9 store family — the
  * round-11 verdict's #1): the store's data files under
  * `graft.store.encoding = columnar` must pass the SAME table-format
  * battery the text encoding passes, because everything above the file —
  * manifest zones/blooms/partitions, dv/eq masks, field-id schema, CDF,
  * travel — is encoding-blind. Several queries here deliberately SHARE an
  * existing text-battery oracle verbatim (merge, evolve, cdf): two at-rest
  * encodings, one truth.
  *
  * What columnar buys at 100 TB: file-level pruning was already done
  * (zones/blooms/partitions), so the dominant remaining scan term was the
  * ROW PARSE — text `decode` splits and materializes every column of every
  * row regardless of projection. The `#GC1` layout stores one block per
  * physical slot and the reader seeks past blocks the projection doesn't
  * name, so a 2-of-20-column scan reads and parses ~2/20ths of the bytes
  * (q_store_col_proj pins the block count; BASELINE.md records the
  * measured narrow-scan win). Values keep the row format's field codec, so
  * int→bigint widening stays metadata-only and equality-mask keys decode
  * from the key block alone.
  */
object StoreColumnar extends OpModule {

  import Sources.{tmp, withStorePath, seedStore, storeCdc,
    storeSummary, flagRows}

  private val fmt = "graft.sources.StoreSink"

  private def fsOf(s: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)

  /** Seed the standard orders-derived store at `path` with the columnar
    * encoding declared BEFORE the first write (fresh tables are born
    * columnar; the flip-mid-table path is q_store_col_travel's subject). */
  private def seedColumnar(s: SparkSession, d: String,
                           path: String): (DataFrame, Long) = {
    fsOf(s).delete(new org.apache.hadoop.fs.Path(path), true)
    StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
    val base = Tables.orders(s, d)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
              graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
    base.repartitionByRange(8, col("k"))
      .write.format(fmt).mode("append").option("path", path).save()
    (base, base.agg(max(col("k"))).collect()(0).getLong(0))
  }

  /** Do all row-bearing committed files at `path` open with the `#GC1`
    * magic? (0-row COW leftovers are 0-byte under either encoding.) */
  private def allColumnar(s: SparkSession, path: String): Boolean = {
    val fsys = fsOf(s)
    val root = new org.apache.hadoop.fs.Path(path)
    StoreSink.readEntries(root, fsys).filter(_.rows != 0).forall { e =>
      val in = fsys.open(new org.apache.hadoop.fs.Path(root, e.name))
      val buf = new Array[Byte](5)
      val n = try in.read(buf) finally in.close()
      n == 5 && new String(buf, "UTF-8") == "#GC1 "
    }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Baseline: a columnar-born table round-trips the standard content,
    // and every committed file actually carries the #GC1 magic (z flag —
    // without it this would silently test the text path).
    "q_store_col" -> ((s, d) => {
      val path = tmp(d, "storecol")
      seedColumnar(s, d, path)
      withStorePath(s, path) {
        val agg = Local(s.table("graft.store").groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        (agg ++ flagRows("z_columnar" -> allColumnar(s, path))).toDF(s).orderBy(col("grp"))
      }
    }),

    // THE WHY: a narrow projection over a WIDE columnar table reads only
    // the blocks it names. Five physical columns, a two-column aggregate
    // (fee is one of two trailing adds) — the reader must touch 2 of 5
    // blocks (z_blocks pins it from the scan's block counts), and the
    // zero-column existence scan touches 0 of 5. The text encoding would
    // split all five fields of every row either way; this is the
    // within-file scan cost the format exists to shed.
    "q_store_col_proj" -> ((s, d) => {
      val path = tmp(d, "storecolproj")
      fsOf(s).delete(new org.apache.hadoop.fs.Path(path), true)
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      withStorePath(s, path) {
        s.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
        s.sql("ALTER TABLE graft.store ADD COLUMN fee BIGINT")
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
                  graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"),
                  concat(lit("note-"), col("o_orderkey")).as("note"),
                  pmod(col("o_orderkey"), lit(997)).as("fee"))
          .repartitionByRange(4, col("k"))
          .write.format(fmt).mode("append").option("path", path).save()
        val aggDf = s.table("graft.store")
          .groupBy(col("grp")).agg(sum(col("fee")).as("fee_sum"), lit(0L).as("pad"))
        val agg = Local(aggDf, 16)
        val oneDf = s.table("graft.store").select(lit(1).as("one"))
        val nRows = oneDf.collect().length.toLong
        (agg ++ Seq(Row("z_rows", nRows, 0L)) ++
          flagRows(
            "z_blocks_narrow" -> ScanMetrics(aggDf).readEach(2, 5), // (grp, fee) of 5
            "z_blocks_zero"   -> ScanMetrics(oneDf).readEach(0, 5))) // header-only
          .toDF(s).orderBy(col("grp"))
      }
    }),

    // Deletes against columnar files: the selective delete attaches an
    // ordinal deletion vector (data files byte-identical), the keyed
    // equality delete masks through the KEY BLOCK alone, and the bulk
    // delete rewrites copy-on-write ABSORBING both masks — with the
    // replacement files still columnar (z_columnar).
    "q_store_col_delete" -> ((s, d) => {
      val path = tmp(d, "storecoldel")
      val (base, maxK) = seedColumnar(s, d, path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fsys = fsOf(s)
      def dataFiles() = fsys.listStatus(root).map(_.getPath.getName)
        .filter(n => n.startsWith("part-") && !n.contains(".dv-") &&
                     !n.contains(".eq-")).toSet
      val filesBefore = dataFiles()
      // the DELETE's key list goes into its SQL text
      val dvKeys = Local(base.where(pmod(col("k"), lit(101)) === 0).select(col("k")),
        maxK / 101 + 1).rows.map(_.getLong(0))
      val eqKeys = Local(base.where(pmod(col("k"), lit(293)) === 0 &&
                                    pmod(col("k"), lit(101)) =!= 0).select(col("k")),
        maxK / 293 + 1).rows.map(_.getLong(0))
      withStorePath(s, path) {
        def aggOf(v: String) = Local(s.table("graft.store")
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
          .select(lit(v).as("v"), col("grp"), col("n"), col("sum_cents")), 16)
        s.sql(s"DELETE FROM graft.store WHERE k IN (${dvKeys.mkString(",")})")
        val hasDv = StoreSink.readEntries(root, fsys).exists(_.dv.isDefined)
        val noRewrite = dataFiles() == filesBefore
        StoreSink.equalityDelete(path,
          Array(org.apache.spark.sql.sources.In("k", eqKeys.map(k => k: Any).toArray)))
        val hasEq = StoreSink.readEntries(root, fsys).exists(_.eq.isDefined)
        val morRows = aggOf("mor")
        s.sql("DELETE FROM graft.store WHERE grp = 'F'") // bulk: COW
        val absorbed = StoreSink.readEntries(root, fsys)
          .forall(e => e.dv.isEmpty && e.eq.isEmpty)
        val cowRows = aggOf("cow")
        (morRows ++ cowRows.rows ++ Seq(
          Row("z_absorbed", "-", if (absorbed) 1L else 0L, 0L),
          Row("z_columnar", "-", if (allColumnar(s, path)) 1L else 0L, 0L),
          Row("z_masks", "-", if (hasDv && hasEq && noRewrite) 1L else 0L, 0L)))
          .toDF(s).orderBy(col("v"), col("grp"))
      }
    }),

    // Native MERGE INTO over a columnar table — SHARES q_store_merge's
    // oracle verbatim: third execution surface (primitives, native MERGE
    // on text, native MERGE on columnar), one truth.
    "q_store_col_merge" -> ((s, d) => {
      val path = tmp(d, "storecolmerge")
      val (base, maxK) = seedColumnar(s, d, path)
      val (dels, upds, ins) = storeCdc(base, maxK)
      val v = s"store_col_cdc_${java.lang.Integer.toHexString(d.hashCode)}"
      upds.select(lit("U").as("op"), col("k"), col("grp"), col("amt_cents"))
        .unionByName(dels.select(lit("D").as("op"), col("k"),
          lit(null).cast("string").as("grp"), lit(0L).as("amt_cents")))
        .unionByName(ins.select(lit("I").as("op"), col("k"), col("grp"),
          col("amt_cents")))
        .createOrReplaceTempView(v)
      try withStorePath(s, path) {
        s.sql(s"""MERGE INTO graft.store t USING $v s ON t.k = s.k
                 |WHEN MATCHED AND s.op = 'D' THEN DELETE
                 |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET grp = s.grp, amt_cents = s.amt_cents
                 |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, grp, amt_cents) VALUES (s.k, s.grp, s.amt_cents)""".stripMargin)
        storeSummary(s, path).toDF(s)
      } finally s.catalog.dropTempView(v)
    }),

    // Field-id schema evolution on columnar files: ADD COLUMN, append a
    // wider generation, UPDATE keyed on the new column (the old files
    // carry by name through the rewrite) — q_store_evolve's scenario and
    // oracle verbatim; a short columnar file pads missing BLOCKS exactly
    // as a short text row pads missing fields.
    "q_store_col_evolve" -> ((s, d) => {
      val path = tmp(d, "storecolevolve")
      val (base, maxK) = seedColumnar(s, d, path)
      withStorePath(s, path) {
        s.sql("ALTER TABLE graft.store ADD COLUMN note STRING")
        base.where(pmod(col("k"), lit(101)) === 0)
          .select((col("k") + maxK + 1).as("k"), lit("NEW").as("grp"),
                  (col("k") * 10).as("amt_cents"),
                  concat(lit("n"), col("k").cast("string")).as("note"))
          .write.format(fmt).mode("append").option("path", path).save()
        s.sql("UPDATE graft.store SET amt_cents = amt_cents + 5 " +
              "WHERE note IS NOT NULL")
        Local(s.table("graft.store")
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"),
               count(col("note")).as("n_note"), max(col("note")).as("max_note"))
          .orderBy(col("grp")), 16).toDF(s)
      }
    }),

    // The ENCODING FLIP mid-table: a text generation, the property change,
    // a columnar generation — one manifest carries both (files are
    // self-identifying), the head read unions them, and VERSION AS OF
    // resolves the pre-flip generation as pure text. No rewrite anywhere:
    // at 100 TB flipping a petabyte table's encoding costs one property
    // write, and migration happens lazily through COW/compaction.
    "q_store_col_travel" -> ((s, d) => {
      val path = tmp(d, "storecoltravel")
      val (base, maxK) = seedStore(s, d, path) // v1: text files
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      base.where(pmod(col("k"), lit(101)) === 0)
        .select((col("k") + maxK + 1).as("k"), lit("NEW").as("grp"),
                (col("k") * 10).as("amt_cents"))
        .write.format(fmt).mode("append").option("path", path).save() // v2
      withStorePath(s, path) {
        def aggOf(v: String, df: DataFrame) = Local(df.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
          .select(lit(v).as("v"), col("grp"), col("n"), col("sum_cents")), 16)
        val head = aggOf("head", s.table("graft.store"))
        val v1 = aggOf("v1", s.sql("SELECT * FROM graft.store VERSION AS OF 1"))
        val mixed = !allColumnar(s, path) &&
          StoreSink.readEntries(new org.apache.hadoop.fs.Path(path), fsOf(s))
            .exists { e =>
              val in = fsOf(s).open(new org.apache.hadoop.fs.Path(
                new org.apache.hadoop.fs.Path(path), e.name))
              val buf = new Array[Byte](5)
              val n = try in.read(buf) finally in.close()
              n == 5 && new String(buf, "UTF-8") == "#GC1 "
            }
        (head ++ v1.rows ++ Seq(Row("z", "mixed", if (mixed) 1L else 0L, 0L)))
          .toDF(s).orderBy(col("v"), col("grp"))
      }
    }),

    // Change data feed across columnar commits — q_store_cdf's scenario
    // and oracle verbatim: the feed diffs manifest file tokens and reads
    // changed files through the encoding-agnostic row view, so the
    // at-rest format never leaks into CDC semantics.
    "q_store_col_cdf" -> ((s, d) => {
      val path = tmp(d, "storecolcdf")
      seedColumnar(s, d, path) // v1: 8 range-clustered columnar files
      withStorePath(s, path) {
        s.sql("UPDATE graft.store SET amt_cents = amt_cents + 7 " +
              "WHERE k BETWEEN 100 AND 999") // v2
        s.sql("DELETE FROM graft.store WHERE k < 50") // v3
        val root = new org.apache.hadoop.fs.Path(path)
        val fsys = fsOf(s)
        def names(v: Int) = StoreSink
          .readVersionLines(root, fsys, v).filterNot(_.startsWith("#"))
          .map(StoreSink.parseEntry(_).name)
        val replaced = names(1).diff(names(2)).size
        def aggOf(win: String, df: DataFrame) =
          Local(df.groupBy(col("op"), col("grp"))
            .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
            .select(lit(win).as("win"), col("op"), col("grp"), col("n"),
                    col("sum_cents")), 16)
        (aggOf("1..3", StoreSink.changes(s, path, 1)) ++
          aggOf("2..3", StoreSink.changes(s, path, 2, Some(3))).rows ++
          Seq(Row("flag", "z_subset_rewrite", "-",
            if (replaced > 0 && replaced < names(1).size) 1L else 0L, 0L)))
          .toDF(s).orderBy(col("win"), col("op"), col("grp"))
      }
    }),

    // Compaction as lazy format migration: half the table text, half
    // columnar, one compact() — content identical before/after (and the
    // pre-compact mixed generation still one VERSION AS OF away), all
    // post-compact files columnar, zones still disjoint enough to prune.
    "q_store_col_compact" -> ((s, d) => {
      val path = tmp(d, "storecolcompact")
      val (base, maxK) = seedStore(s, d, path) // v1: text
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      base.select((col("k") + maxK + 1).as("k"), col("grp"),
                  (col("amt_cents") + 1).as("amt_cents"))
        .repartitionByRange(8, col("k"))
        .write.format(fmt).mode("append").option("path", path).save() // v2
      withStorePath(s, path) {
        def aggOf(v: String, df: DataFrame) = Local(df.groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
          .select(lit(v).as("v"), col("grp"), col("n"), col("sum_cents")), 16)
        val pre = aggOf("pre", s.table("graft.store"))
        StoreSink.compact(s, path, 30000L)
        val post = aggOf("post", s.table("graft.store"))
        val v2 = aggOf("v2", s.sql("SELECT * FROM graft.store VERSION AS OF 2"))
        def content(l: Local) = l.rows.map(_.toSeq.drop(1)).toSet
        val same = content(pre) == content(post) && content(pre) == content(v2)
        (post ++ Seq(
          Row("z", "all_columnar", if (allColumnar(s, path)) 1L else 0L, 0L),
          Row("z", "content_invariant", if (same) 1L else 0L, 0L)))
          .toDF(s).orderBy(col("v"), col("grp"))
      }
    }),

    // Zone + bloom pruning over columnar files: pruning decisions come
    // from the MANIFEST (encoding-blind), and the planned files then
    // read only the projected blocks — the two pruning layers compose.
    "q_store_col_zone" -> ((s, d) => {
      val path = tmp(d, "storecolzone")
      seedColumnar(s, d, path)
      withStorePath(s, path) {
        val aggDf = s.table("graft.store")
          .where(col("k").between(100, 999))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
        val agg = Local(aggDf, 16)
        val (t, p) = ScanMetrics(aggDf).plannedFiles
        val pruned = p < t && p >= 1
        (agg ++ flagRows("z_zone_pruned" -> pruned)).toDF(s).orderBy(col("grp"))
      }
    }),

    // BLOCK COMPRESSION (`graft.store.compress = deflate`, the #GC2
    // grammar): blocks are column-homogeneous so a cheap deflate pass
    // compresses them well, the header carries raw:comp length pairs, and
    // the reader INFLATES ONLY PROJECTED BLOCKS — compression composes
    // with block skipping (the parquet page-compression shape) instead of
    // fighting it. Content must be bit-identical to the uncompressed twin
    // (one oracle); z flags pin that every file carries the GC2 magic and
    // that the table's at-rest bytes genuinely shrank.
    "q_store_col_zip" -> ((s, d) => {
      val path = tmp(d, "storecolzip")
      val twin = tmp(d, "storecolziptwin")
      val fsys = fsOf(s)
      def seedZip(p: String, zip: Boolean): Unit = {
        fsys.delete(new org.apache.hadoop.fs.Path(p), true)
        StoreSink.setProp(p, StoreSink.EncodingProp, "columnar")
        if (zip) StoreSink.setProp(p, StoreSink.CompressProp, "deflate")
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
                  graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
          .repartitionByRange(8, col("k"))
          .write.format(fmt).mode("append").option("path", p).save()
      }
      seedZip(path, zip = true); seedZip(twin, zip = false)
      def bytesOf(p: String): Long = StoreSink.readEntries(
        new org.apache.hadoop.fs.Path(p), fsys).flatMap(_.bytes).sum
      val smaller = bytesOf(path) < bytesOf(twin)
      val gc2 = StoreSink.readEntries(new org.apache.hadoop.fs.Path(path), fsys)
        .filter(_.rows > 0).forall { e =>
          val in = fsys.open(new org.apache.hadoop.fs.Path(
            new org.apache.hadoop.fs.Path(path), e.name))
          val buf = new Array[Byte](5)
          val n = try in.read(buf) finally in.close()
          n == 5 && new String(buf, "UTF-8") == "#GC2 "
        }
      withStorePath(s, path) {
        val agg = Local(s.table("graft.store").groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        (agg ++ flagRows(
          "z_gc2" -> gc2, "z_smaller" -> smaller)).toDF(s).orderBy(col("grp"))
      }
    }),

    // RUN-LENGTH-ENCODED INTEGER BLOCKS: under `graft.store.rle = on`, a
    // qualifying integer block stores `count*value` runs (`r`-tagged
    // length token — per-block, self-identifying, provably-smaller-only
    // like the string dictionary). The fixture's amt column collapses to
    // 5 distinct cent values and arrives SORTED — the post-compaction /
    // clustered-write shape where runs are long — so its block shrinks
    // (z_smaller), while the UNIQUE key column's block correctly stays
    // plain (z_k_plain: the size guard refuses an encoding that can't
    // pay). Content is bit-identical to the plain columnar twin, and the
    // amt-predicate read decodes THROUGH the runs. The parquet RLE page
    // shape; at 100 TB the at-rest win lands exactly on the columns
    // clustering already made runny.
    "q_store_col_rle" -> ((s, d) => {
      val path = tmp(d, "storecolrle")
      val twin = tmp(d, "storecolrletwin")
      val fsys = fsOf(s)
      def seed(p: String, rle: Boolean): Unit = {
        fsys.delete(new org.apache.hadoop.fs.Path(p), true)
        StoreSink.setProp(p, StoreSink.EncodingProp, "columnar")
        StoreSink.setProp(p, StoreSink.GroupRowsProp, "2000")
        if (rle) StoreSink.setProp(p, StoreSink.RleProp, "on")
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
                  (pmod(col("o_orderkey"), lit(5)) * 100).as("amt_cents"))
          .repartition(1).sortWithinPartitions(col("amt_cents"), col("k"))
          .write.format(fmt).mode("append").option("path", p).save()
      }
      seed(path, rle = true); seed(twin, rle = false)
      def bytesOf(p: String): Long = StoreSink.readEntries(
        new org.apache.hadoop.fs.Path(p), fsys).flatMap(_.bytes).sum
      val smaller = bytesOf(path) < bytesOf(twin)
      val root = new org.apache.hadoop.fs.Path(path)
      var tagged = false
      var kPlain = true
      StoreSink.readEntries(root, fsys).filter(_.rows > 0).foreach { e =>
        val p = new org.apache.hadoop.fs.Path(root, e.name)
        val in = fsys.open(p)
        try StoreSink.readColGroups(in, fsys.getFileStatus(p).getLen)
          .foreach(_.foreach { h =>
            if (h.rleFlags.exists(identity)) tagged = true
            if (h.isRle(0)) kPlain = false
          })
        finally in.close()
      }
      withStorePath(s, path) {
        val full = Local(s.table("graft.store").groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        val one = s.table("graft.store").where(col("amt_cents") === 200)
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
          .collect()(0)
        (full ++
          Seq(Row("amt200", one.getLong(0), one.getLong(1))) ++
          flagRows("z_k_plain" -> kPlain, "z_rle" -> tagged,
                   "z_smaller" -> smaller))
          .toDF(s).orderBy(col("grp"))
      }
    }),

    // DICTIONARY-ENCODED STRING BLOCKS (round-12 verdict #5): under
    // `graft.store.dict = on`, low-cardinality string blocks store their
    // distinct values once plus one ordinal per row (`d`-tagged length
    // token — per-block, self-identifying), shrinking at-rest bytes
    // (z_smaller) AND acting as a block-local predicate index: a pushed
    // grp equality whose value is absent from a group's dictionary skips
    // the whole group after reading ONE block (z_dict_skip — the parquet
    // dictionary-page filter shape). Content is bit-identical to the
    // plain columnar twin: one oracle.
    "q_store_col_dict" -> ((s, d) => {
      val path = tmp(d, "storecoldict")
      val twin = tmp(d, "storecoldicttwin")
      val fsys = fsOf(s)
      def seed(p: String, dict: Boolean): Unit = {
        fsys.delete(new org.apache.hadoop.fs.Path(p), true)
        StoreSink.setProp(p, StoreSink.EncodingProp, "columnar")
        StoreSink.setProp(p, StoreSink.GroupRowsProp, "2000")
        if (dict) StoreSink.setProp(p, StoreSink.DictProp, "on")
        // longer low-cardinality values: a dictionary must beat the
        // plain layout (1-char statuses cost as much as their ordinals
        // and correctly stay plain — the encoder's size guard)
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"),
                  concat(lit("status-"), col("o_orderstatus")).as("grp"),
                  graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
          .repartition(1).sortWithinPartitions(col("grp"), col("k"))
          .write.format(fmt).mode("append").option("path", p).save()
      }
      seed(path, dict = true); seed(twin, dict = false)
      def bytesOf(p: String): Long = StoreSink.readEntries(
        new org.apache.hadoop.fs.Path(p), fsys).flatMap(_.bytes).sum
      val smaller = bytesOf(path) < bytesOf(twin)
      // at least one committed file carries a d-tagged block
      val root = new org.apache.hadoop.fs.Path(path)
      val tagged = StoreSink.readEntries(root, fsys).filter(_.rows > 0)
        .exists { e =>
          val p = new org.apache.hadoop.fs.Path(root, e.name)
          val in = fsys.open(p)
          try StoreSink.readColGroups(in, fsys.getFileStatus(p).getLen)
            .exists(_.exists(_.dictFlags.exists(identity)))
          finally in.close()
        }
      withStorePath(s, path) {
        // the rare status: most grp-sorted groups lack it → dict skip
        val rare = s.table("graft.store").groupBy(col("grp")).count()
          .orderBy(col("count"), col("grp")).collect()(0).getString(0)
        val rareDf = s.table("graft.store").where(col("grp") === rare)
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
        val rareAgg = rareDf.collect()(0)
        val skipped = ScanMetrics(rareDf).groupsSkipped
        val full = Local(s.table("graft.store").groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        (full ++
          Seq(Row("rare", rareAgg.getLong(0), rareAgg.getLong(1))) ++
          flagRows("z_dict" -> tagged, "z_dict_skip" -> skipped,
                   "z_smaller" -> smaller))
          .toDF(s).orderBy(col("grp"))
      }
    }),

    // DICT-BLOCK PREFIX INDEX (round-12 verdict #7): the dictionary skip
    // extends from eq/IN to LIKE 'p%' — a pushed StringStartsWith whose
    // prefix matches NO value in a group's dictionary skips the group
    // after ONE block read (URL encoding is per-character, so the prefix
    // test runs on at-rest values). The fixture's grp carries a
    // status×digit suffix so one prefix matches TEN dictionary values —
    // a real prefix scan, not an equality in disguise — while grp-sorted
    // groups of the other statuses skip (z_dict_like_skip).
    "q_store_col_dict_like" -> ((s, d) => {
      val path = tmp(d, "storecoldictlike")
      val fsys = fsOf(s)
      fsys.delete(new org.apache.hadoop.fs.Path(path), true)
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      StoreSink.setProp(path, StoreSink.GroupRowsProp, "2000")
      StoreSink.setProp(path, StoreSink.DictProp, "on")
      Tables.orders(s, d)
        .select(col("o_orderkey").as("k"),
          concat(lit("st-"), col("o_orderstatus"), lit("-"),
                 pmod(col("o_orderkey"), lit(10)).cast("string")).as("grp"),
          graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
        .repartition(1).sortWithinPartitions(col("grp"), col("k"))
        .write.format(fmt).mode("append").option("path", path).save()
      withStorePath(s, path) {
        val rare = Tables.orders(s, d).groupBy(col("o_orderstatus"))
          .count().orderBy(col("count"), col("o_orderstatus"))
          .collect()(0).getString(0)
        val aggDf = s.table("graft.store")
          .where(col("grp").like(s"st-$rare-%"))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
        val agg = Local(aggDf, 16)
        val skipped = ScanMetrics(aggDf).groupsSkipped
        (agg ++ flagRows("z_dict_like_skip" -> skipped)).toDF(s).orderBy(col("grp"))
      }
    }),

    // RLE-COMPOSED DICT ORDINALS (round-13 verdict #8): a string slot of
    // a table with BOTH graft.store.dict AND graft.store.rle on tries a
    // third block layout — the dictionary with its ORDINAL stream
    // run-length-encoded (`e`-tagged: `n|values|c0*o0,c1*o1,…`). A
    // sorted/clustered low-cardinality column leaves LONG ordinal runs
    // (exactly what range-clustered, orderedBy, and partitioned writes
    // produce), so the per-row ordinal cost collapses to one token per
    // run — the parquet RLE/bit-packed hybrid over dictionary indices.
    // Strictly-shrinking chain: `e` only when provably smaller than `d`,
    // which itself only when smaller than plain — the dict-only TWIN
    // pins the delta (z_smaller). The dictionary predicate index is
    // LAYOUT-BLIND: the rare-status probe still skips groups from the
    // `e` block's dictionary alone (z_dict_skip). Content is
    // bit-identical to q_store_col_dict — shared closed form.
    "q_store_col_dict_rle" -> ((s, d) => {
      val path = tmp(d, "storecoldictrle")
      val twin = tmp(d, "storecoldictrletwin")
      val fsys = fsOf(s)
      def seed(p: String, rle: Boolean): Unit = {
        fsys.delete(new org.apache.hadoop.fs.Path(p), true)
        StoreSink.setProp(p, StoreSink.EncodingProp, "columnar")
        StoreSink.setProp(p, StoreSink.GroupRowsProp, "2000")
        StoreSink.setProp(p, StoreSink.DictProp, "on")
        if (rle) StoreSink.setProp(p, StoreSink.RleProp, "on")
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"),
                  concat(lit("status-"), col("o_orderstatus")).as("grp"),
                  graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
          .repartition(1).sortWithinPartitions(col("grp"), col("k"))
          .write.format(fmt).mode("append").option("path", p).save()
      }
      seed(path, rle = true); seed(twin, rle = false)
      def bytesOf(p: String): Long = StoreSink.readEntries(
        new org.apache.hadoop.fs.Path(p), fsys).flatMap(_.bytes).sum
      val smaller = bytesOf(path) < bytesOf(twin)
      val root = new org.apache.hadoop.fs.Path(path)
      val tagged = StoreSink.readEntries(root, fsys).filter(_.rows > 0)
        .exists { e =>
          val p = new org.apache.hadoop.fs.Path(root, e.name)
          val in = fsys.open(p)
          try StoreSink.readColGroups(in, fsys.getFileStatus(p).getLen)
            .exists(_.exists(_.dictRleFlags.exists(identity)))
          finally in.close()
        }
      withStorePath(s, path) {
        val rare = s.table("graft.store").groupBy(col("grp")).count()
          .orderBy(col("count"), col("grp")).collect()(0).getString(0)
        val rareDf = s.table("graft.store").where(col("grp") === rare)
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
        val rareAgg = rareDf.collect()(0)
        val skipped = ScanMetrics(rareDf).groupsSkipped
        val full = Local(s.table("graft.store").groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        (full ++
          Seq(Row("rare", rareAgg.getLong(0), rareAgg.getLong(1))) ++
          flagRows("z_dict_rle" -> tagged, "z_dict_skip" -> skipped,
                   "z_smaller" -> smaller))
          .toDF(s).orderBy(col("grp"))
      }
    }),

    // PER-GROUP ZONE STATS (round-12 verdict #1 — the parquet row-group
    // stats shape): multi-group columnar files carry `@slot:min:max`
    // tokens in each group header; a statically-pushed k-range the
    // group's zone excludes skips the WHOLE group — file pruning
    // (manifest zones) composes with group pruning (header stats). The
    // scenario is adversarial on purpose: the probed range sits MID-FILE
    // so leading groups are skipped, and a deletion-vector mask attached
    // beforehand pins that ordinals stay file-wide across skipped groups
    // (a reader that forgot to advance `ord` past a skipped group would
    // mask the wrong rows and fail the oracle).
    "q_store_col_group_zone" -> ((s, d) => {
      val path = tmp(d, "storecolgz")
      fsOf(s).delete(new org.apache.hadoop.fs.Path(path), true)
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      StoreSink.setProp(path, StoreSink.GroupRowsProp, "2000")
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
                graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
      base.repartition(1).sortWithinPartitions(col("k"))
        .write.format(fmt).mode("append").option("path", path).save()
      val dvKeys = base.where(pmod(col("k"), lit(101)) === 0)
        .select(col("k")).collect().map(_.getLong(0))
      // a MID-FILE key range (45%..70% of the keyspace): leading groups
      // skip; exact integer arithmetic so the oracle reproduces it
      val maxK = base.agg(max(col("k"))).collect()(0).getLong(0)
      val (lo, hi) = (maxK * 45 / 100, maxK * 70 / 100)
      withStorePath(s, path) {
        s.sql(s"DELETE FROM graft.store WHERE k IN (${dvKeys.mkString(",")})")
        val aggDf = s.table("graft.store").where(col("k").between(lo, hi))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents"))
        val agg = Local(aggDf, 16)
        val skipped = ScanMetrics(aggDf).groupsSkipped
        val hasDv = StoreSink.readEntries(
          new org.apache.hadoop.fs.Path(path), fsOf(s)).exists(_.dv.isDefined)
        (agg ++ flagRows(
          "z_group_skip" -> skipped, "z_dv_masked" -> hasDv))
          .toDF(s).orderBy(col("grp"))
      }
    }),

    // Identity-partitioned columnar store: the partitioned writer holds
    // one column-buffer set per partition value it sees, partition
    // pruning still precedes zone pruning, and every partition-pure file
    // is columnar.
    "q_store_col_part" -> ((s, d) => {
      val path = tmp(d, "storecolpart")
      val root = new org.apache.hadoop.fs.Path(path)
      fsOf(s).delete(root, true)
      StoreSink.setProp(path, StoreSink.EncodingProp, "columnar")
      StoreSink.writePartSpec(root, fsOf(s),
        StoreSink.PartSpec("identity", "grp", 0))
      withStorePath(s, path) {
        Tables.orders(s, d)
          .select(col("o_orderkey").as("k"), col("o_orderstatus").as("grp"),
                  graft.ops.Det.cents(col("o_totalprice")).as("amt_cents"))
          .write.format(fmt).mode("append").option("path", path).save()
        val agg = Local(s.table("graft.store").where(col("grp") === "F")
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("n"), sum(col("amt_cents")).as("sum_cents")), 16)
        // routing pin: every entry carries its partition value, one value
        // per live grp (partition PRUNING itself is StorePartSpec's pin —
        // the planning hook counts after bloom pruning, which already
        // narrows an equality filter to the same set)
        val entries = StoreSink.readEntries(root, fsOf(s))
        val routed = entries.nonEmpty && entries.forall(_.part.isDefined) &&
          entries.flatMap(_.part).distinct.size >= 3
        (agg ++ flagRows(
          "z_columnar" -> allColumnar(s, path),
          "z_part_routed" -> routed)).toDF(s).orderBy(col("grp"))
      }
    }),
  )

  override def oracles: Map[String, String] = Map(
    "q_store_col" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM base GROUP BY grp
        |UNION ALL SELECT 'z_columnar', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_proj" ->
      """SELECT o_orderstatus AS grp,
        |  CAST(SUM(o_orderkey % 997) AS BIGINT) AS fee_sum,
        |  CAST(0 AS BIGINT) AS pad
        |FROM orders GROUP BY o_orderstatus
        |UNION ALL SELECT 'z_blocks_narrow', 1, 0
        |UNION ALL SELECT 'z_blocks_zero', 1, 0
        |UNION ALL SELECT 'z_rows', (SELECT COUNT(*) FROM orders), 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_delete" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |live AS (SELECT * FROM base WHERE k % 101 <> 0 AND k % 293 <> 0)
        |SELECT 'mor' AS v, grp, COUNT(*) AS n,
        |  CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM live GROUP BY grp
        |UNION ALL
        |SELECT 'cow', grp, COUNT(*), CAST(SUM(amt) AS BIGINT)
        |FROM live WHERE grp <> 'F' GROUP BY grp
        |UNION ALL SELECT 'z_absorbed', '-', 1, 0
        |UNION ALL SELECT 'z_columnar', '-', 1, 0
        |UNION ALL SELECT 'z_masks', '-', 1, 0
        |ORDER BY v, grp""".stripMargin,

    // SHARED with q_store_merge/q_store_merge_sql/q_store_merge_delta:
    // four execution strategies, one relational truth
    "q_store_col_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt_cents
        |  FROM orders),
        |mx AS (SELECT MAX(k) AS maxk FROM base),
        |merged AS (
        |  SELECT k, grp, amt_cents FROM base
        |  WHERE k % 89 <> 0 AND k % 97 <> 0
        |  UNION ALL
        |  SELECT k, grp, amt_cents + 100 FROM base
        |  WHERE k % 97 = 0 AND k % 89 <> 0
        |  UNION ALL
        |  SELECT k + mx.maxk + 1, 'NEW', k * 10 FROM base, mx
        |  WHERE k % 101 = 0)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt_cents) AS BIGINT) AS sum_cents
        |FROM merged GROUP BY grp ORDER BY grp""".stripMargin,

    // SHARED with q_store_evolve
    "q_store_col_evolve" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |mx AS (SELECT MAX(k) AS maxk FROM base),
        |ins AS (SELECT k + mx.maxk + 1 AS k, 'NEW' AS grp,
        |          k * 10 + 5 AS amt, 'n' || CAST(k AS VARCHAR) AS note
        |        FROM base, mx WHERE k % 101 = 0),
        |allr AS (
        |  SELECT k, grp, amt, CAST(NULL AS VARCHAR) AS note FROM base
        |  UNION ALL SELECT k, grp, amt, note FROM ins)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents,
        |  COUNT(note) AS n_note, MAX(note) AS max_note
        |FROM allr GROUP BY grp ORDER BY grp""".stripMargin,

    "q_store_col_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |mx AS (SELECT MAX(k) AS maxk FROM base),
        |ins AS (SELECT k + mx.maxk + 1 AS k, 'NEW' AS grp, k * 10 AS amt
        |        FROM base, mx WHERE k % 101 = 0),
        |head AS (SELECT grp, amt FROM base UNION ALL SELECT grp, amt FROM ins)
        |SELECT 'head' AS v, grp, COUNT(*) AS n,
        |  CAST(SUM(amt) AS BIGINT) AS sum_cents FROM head GROUP BY grp
        |UNION ALL
        |SELECT 'v1', grp, COUNT(*), CAST(SUM(amt) AS BIGINT)
        |FROM base GROUP BY grp
        |UNION ALL SELECT 'z', 'mixed', 1, 0
        |ORDER BY v, grp""".stripMargin,

    // SHARED with q_store_cdf
    "q_store_col_cdf" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders)
        |SELECT '1..3' AS win, 'insert' AS op, grp, COUNT(*) AS n,
        |  CAST(SUM(amt + 7) AS BIGINT) AS sum_cents
        |FROM base WHERE k BETWEEN 100 AND 999 GROUP BY grp
        |UNION ALL
        |SELECT '1..3', 'delete', grp, COUNT(*), CAST(SUM(amt) AS BIGINT)
        |FROM base WHERE k < 50 OR k BETWEEN 100 AND 999 GROUP BY grp
        |UNION ALL
        |SELECT '2..3', 'delete', grp, COUNT(*), CAST(SUM(amt) AS BIGINT)
        |FROM base WHERE k < 50 GROUP BY grp
        |UNION ALL SELECT 'flag', 'z_subset_rewrite', '-', 1, 0
        |ORDER BY win, op, grp""".stripMargin,

    "q_store_col_compact" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |uall AS (SELECT grp, amt FROM base
        |         UNION ALL SELECT grp, amt + 1 FROM base)
        |SELECT 'post' AS v, grp, COUNT(*) AS n,
        |  CAST(SUM(amt) AS BIGINT) AS sum_cents FROM uall GROUP BY grp
        |UNION ALL SELECT 'z', 'all_columnar', 1, 0
        |UNION ALL SELECT 'z', 'content_invariant', 1, 0
        |ORDER BY v, grp""".stripMargin,

    // content invariant under the run encoding; the amt-predicate read
    // decodes through runs, flags pin the tagged/plain/smaller contracts
    "q_store_col_rle" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    (o_orderkey % 5) * 100 AS amt FROM orders)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM base GROUP BY grp
        |UNION ALL SELECT 'amt200', COUNT(*), CAST(SUM(k) AS BIGINT)
        |FROM base WHERE amt = 200
        |UNION ALL SELECT 'z_k_plain', 1, 0
        |UNION ALL SELECT 'z_rle', 1, 0
        |UNION ALL SELECT 'z_smaller', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_dict" ->
      """WITH base AS (
        |  SELECT 'status-' || o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |byg AS (SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS s
        |        FROM base GROUP BY grp),
        |rare AS (SELECT grp FROM byg ORDER BY n, grp LIMIT 1)
        |SELECT grp, n, s AS sum_cents FROM byg
        |UNION ALL SELECT 'rare', n, s FROM byg WHERE grp = (SELECT grp FROM rare)
        |UNION ALL SELECT 'z_dict', 1, 0
        |UNION ALL SELECT 'z_dict_skip', 1, 0
        |UNION ALL SELECT 'z_smaller', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_dict_like" ->
      """WITH base AS (
        |  SELECT 'st-' || o_orderstatus || '-' ||
        |      CAST(o_orderkey % 10 AS VARCHAR) AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |rare AS (SELECT o_orderstatus AS s FROM orders
        |         GROUP BY 1 ORDER BY COUNT(*), 1 LIMIT 1)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM base WHERE grp LIKE 'st-' || (SELECT s FROM rare) || '-%'
        |GROUP BY grp
        |UNION ALL SELECT 'z_dict_like_skip', 1, 0
        |ORDER BY grp""".stripMargin,

    // the q_store_col_dict closed form (content invariant under the
    // ordinal-RLE layout); flags pin tagged/skip/smaller
    "q_store_col_dict_rle" ->
      """WITH base AS (
        |  SELECT 'status-' || o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |byg AS (SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS s
        |        FROM base GROUP BY grp),
        |rare AS (SELECT grp FROM byg ORDER BY n, grp LIMIT 1)
        |SELECT grp, n, s AS sum_cents FROM byg
        |UNION ALL SELECT 'rare', n, s FROM byg WHERE grp = (SELECT grp FROM rare)
        |UNION ALL SELECT 'z_dict_rle', 1, 0
        |UNION ALL SELECT 'z_dict_skip', 1, 0
        |UNION ALL SELECT 'z_smaller', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_group_zone" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders),
        |mx AS (SELECT MAX(k) AS maxk FROM base),
        |live AS (SELECT * FROM base WHERE k % 101 <> 0)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM live, mx
        |WHERE k BETWEEN maxk * 45 // 100 AND maxk * 70 // 100
        |GROUP BY grp
        |UNION ALL SELECT 'z_dv_masked', 1, 0
        |UNION ALL SELECT 'z_group_skip', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_zone" ->
      """SELECT o_orderstatus AS grp, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 999
        |GROUP BY o_orderstatus
        |UNION ALL SELECT 'z_zone_pruned', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_zip" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS grp,
        |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS amt FROM orders)
        |SELECT grp, COUNT(*) AS n, CAST(SUM(amt) AS BIGINT) AS sum_cents
        |FROM base GROUP BY grp
        |UNION ALL SELECT 'z_gc2', 1, 0
        |UNION ALL SELECT 'z_smaller', 1, 0
        |ORDER BY grp""".stripMargin,

    "q_store_col_part" ->
      """SELECT o_orderstatus AS grp, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
        |UNION ALL SELECT 'z_columnar', 1, 0
        |UNION ALL SELECT 'z_part_routed', 1, 0
        |ORDER BY grp""".stripMargin,
  )
}
