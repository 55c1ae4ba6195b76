package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.connector.catalog.Identifier

/** The graft TableCatalog: name resolution, read-only DDL refusal, and —
  * the part that matters — the pushdown/partitioning contracts surviving
  * the SQL/catalog path unchanged. */
class GraftCatalogSpec extends SparkSpec {

  test("filter pushdown narrows the scan through the catalog path") {
    val df = spark.sql(
      "SELECT id, val FROM graft.range_200k WHERE id >= 100000 AND id < 160000")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftRangeScan[100000, 160000)"),
      s"catalog path lost filter pushdown:\n$p")
    assert(df.count() == 60000L)
  }

  test("storage-partitioned join plans exchange-free through SQL") {
    val confs = Map(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.sql(
        """SELECT f.grp, f.id, f.amt, d.amt AS dim_amt
          |FROM graft.bucket_fact f JOIN graft.bucket_dim d ON f.grp = d.grp
          |""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"catalog path lost KeyGroupedPartitioning:\n$plan")
      assert(df.count() == 40000L)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("catalog function graft.amt resolves, computes, and rejects bad arity") {
    val rows = spark.sql(
      "SELECT id, graft.amt(id) AS a FROM graft.range_200k WHERE id < 100")
      .collect()
    assert(rows.length == 100)
    rows.foreach(r => assert(r.getLong(1) == BucketSource.amtOf(r.getLong(0))))
    intercept[Exception] {
      spark.sql("SELECT graft.amt(1L, 2L)").collect()
    }
    intercept[Exception] {
      spark.sql("SELECT graft.nope(1L)").collect()
    }
  }

  test("listTables, existence, and read-only DDL refusal") {
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    // built-ins must list; a CTAS registration left by an earlier suite
    // in the shared warehouse dir may also appear (order-insensitive)
    val listed = cat.listTables(Array.empty).map(_.name()).toSeq
    assert(Seq("bucket_dim", "bucket_fact", "range_200k", "store")
      .forall(listed.contains), s"missing built-ins in: $listed")
    // store resolves only when the session conf points it at a root
    intercept[Exception] {
      cat.loadTable(Identifier.of(Array.empty, "store"))
    }
    assert(cat.tableExists(Identifier.of(Array.empty, "RANGE_200K")))
    assert(!cat.tableExists(Identifier.of(Array.empty, "nope")))
    intercept[Exception] {
      spark.sql("DROP TABLE graft.range_200k")
    }
    // still resolvable after the refused DDL
    assert(spark.sql("SELECT COUNT(*) FROM graft.bucket_dim").collect()
      .head.getLong(0) == 8L)
  }

  test("stored procedures: listed, audit rows returned, unknown declines") {
    import spark.implicits._
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.ProcedureCatalog]
    assert(cat.listProcedures(Array.empty).map(_.name()).sorted.toSeq ==
      Seq("abandon", "analyze", "cherry_pick", "compact", "compact_if",
        "expire", "export", "export_delta", "fsck",
        "history", "index_build", "index_expire", "index_rebuild_if",
        "index_refresh", "maintain",
        "publish", "publish_all", "remove_orphans", "repartition_spec",
        "rollback", "tag", "text_index_build", "text_index_rebuild_if",
        "text_index_refresh",
        "txn_recover", "vacuum", "zorder", "zorder_by"))
    intercept[Exception] { spark.sql("CALL graft.nope(1)") }
    val dir = "target/tmp/catalog_spec_proc"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    (1 to 200).map(k => (k.toLong, "a", k * 1L)).toDF("k", "grp", "amt_cents")
      .repartition(5, $"k")
      .write.format("graft.sources.StoreSink").mode("overwrite")
      .option("path", dir).save()
    val audit = spark.sql(s"CALL graft.compact('$dir', 100)").collect()(0)
    assert((audit.getLong(0), audit.getLong(1)) == (5L, 2L))
    val vac = spark.sql(s"CALL graft.vacuum('$dir', 1)").collect()(0)
    assert((vac.getLong(0), vac.getLong(1)) == (1L, 2L))
    assert(spark.read.format("graft.sources.StoreSink").option("path", dir)
      .load().count() == 200)
  }

  test("maintain: a policy-less table audits as 'none', a malformed policy " +
       "refuses loudly, a healthy table under a good policy keeps") {
    import spark.implicits._
    val dir = "target/tmp/catalog_spec_maintain"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    fs.delete(root, true)
    (1 to 50).map(k => (k.toLong, "a", k * 1L)).toDF("k", "grp", "amt_cents")
      .coalesce(1)
      .write.format("graft.sources.StoreSink").mode("overwrite")
      .option("path", dir).save()
    val none = spark.sql(s"CALL graft.maintain('$dir')").collect()
    assert(none.length == 1 && none(0).getString(0) == "none",
      s"no policy must audit as 'none': ${none.toSeq}")
    // a typo'd policy must refuse, never read as "healthy, nothing to do"
    StoreSink.writeProps(root, fs,
      Seq("graft.maintain.compact" -> "16:15000"))
    val e = intercept[Exception] {
      spark.sql(s"CALL graft.maintain('$dir')").collect()
    }
    assert(e.getMessage.contains("graft.maintain.compact"), e.getMessage)
    // healthy single-file table under a sane policy: ran, kept
    StoreSink.writeProps(root, fs,
      Seq("graft.maintain.compact" -> "1000000000:16:15000"))
    val keep = spark.sql(s"CALL graft.maintain('$dir')").collect()
    assert(keep.length == 1 && keep(0).getString(0) == "compact" &&
      keep(0).getString(1) == "keep", s"${keep.toSeq}")
  }

  test("staged CTAS: atomic create, failure leaves no table, drop removes") {
    val dir = "target/tmp/catalog_spec_ctas"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.conf.set(GraftCatalog.CtasDirKey, dir)
    try {
      spark.sql("""CREATE TABLE graft.ctas_t AS
                  |SELECT id AS k, tag AS grp, id * 2 AS amt_cents, tag AS extra
                  |FROM graft.range_200k WHERE id < 1000""".stripMargin)
      assert(spark.table("graft.ctas_t").count() == 1000)
      // the evolved trailing column rode the _schema sidecar
      assert(StoreSink.tableSchema(s"$dir/ctas_t").fieldNames.last == "extra")
      // zone pushdown survives the CTAS path
      val q = spark.sql("SELECT COUNT(*) FROM graft.ctas_t WHERE k < 10")
      assert(q.collect().head.getLong(0) == 10)
      // duplicate create refuses (REPLACE is the supported path — see the
      // RTAS test); bad prefix refuses
      intercept[Exception] {
        spark.sql("CREATE TABLE graft.ctas_t AS SELECT 1L AS k, 'x' AS grp, 2L AS amt_cents")
      }
      intercept[Exception] {
        spark.sql("CREATE TABLE graft.badshape AS SELECT 1 AS a, 2 AS b")
      }
      // mid-write failure: no manifest, no table — atomic by construction
      intercept[Exception] {
        spark.sql("""CREATE TABLE graft.boomspec AS
                    |SELECT id AS k, tag AS grp, 1L DIV (id - id) AS amt_cents
                    |FROM graft.range_200k WHERE id < 100""".stripMargin)
      }
      val cat = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      assert(!cat.tableExists(Identifier.of(Array.empty, "boomspec")),
        "failed CTAS left a visible table")
      spark.sql("DROP TABLE graft.ctas_t")
      assert(!cat.tableExists(Identifier.of(Array.empty, "ctas_t")))
    } finally spark.conf.unset(GraftCatalog.CtasDirKey)
  }

  test("namespaces: DDL lifecycle, namespaced CTAS, refusals") {
    val dir = "target/tmp/catalog_spec_ns"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.conf.set(GraftCatalog.CtasDirKey, dir)
    try {
      spark.sql("CREATE NAMESPACE graft.stage")
      assert(spark.sql("SHOW NAMESPACES IN graft").collect()
        .map(_.getString(0)).toSeq == Seq("stage"))
      // duplicate create refuses; nested namespaces refuse; bad name refuses
      intercept[Exception] { spark.sql("CREATE NAMESPACE graft.stage") }
      intercept[Exception] { spark.sql("CREATE NAMESPACE graft.stage.deep") }
      intercept[Exception] { spark.sql("CREATE NAMESPACE graft.`bad name`") }
      // namespaced CTAS; zone pushdown survives the namespaced path
      spark.sql("""CREATE TABLE graft.stage.t AS
                  |SELECT id AS k, tag AS grp, id * 2 AS amt_cents
                  |FROM graft.range_200k WHERE id < 1000""".stripMargin)
      assert(spark.table("graft.stage.t").count() == 1000)
      assert(spark.sql("SELECT COUNT(*) FROM graft.stage.t WHERE k < 10")
        .collect().head.getLong(0) == 10)
      assert(spark.sql("SHOW TABLES IN graft.stage").collect()
        .map(_.getString(1)).toSeq == Seq("t"))
      // the $files inspection view resolves inside the namespace too
      assert(spark.sql("SELECT COUNT(*) FROM graft.stage.`t$files`")
        .collect().head.getLong(0) >= 1)
      // same name in another namespace is a different table
      intercept[Exception] { spark.table("graft.t").collect() }
      // property round-trip through ALTER NAMESPACE
      spark.sql("ALTER NAMESPACE graft.stage SET DBPROPERTIES ('team'='etl')")
      val ns = spark.sessionState.catalogManager.catalog("graft")
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsNamespaces]
      assert(ns.loadNamespaceMetadata(Array("stage")).get("team") == "etl")
      // RESTRICT drop refuses while the table lives; then drops clean
      intercept[Exception] { spark.sql("DROP NAMESPACE graft.stage") }
      spark.sql("DROP TABLE graft.stage.t")
      spark.sql("DROP NAMESPACE graft.stage")
      assert(spark.sql("SHOW NAMESPACES IN graft").count() == 0)
      // a table may not be shadowed by a namespace: CTAS flat, then refuse
      spark.sql("CREATE TABLE graft.flat AS SELECT 1L AS k, 'x' AS grp, 2L AS amt_cents")
      intercept[Exception] { spark.sql("CREATE NAMESPACE graft.flat") }
      spark.sql("DROP TABLE graft.flat")
    } finally spark.conf.unset(GraftCatalog.CtasDirKey)
  }

  test("V2 aggregate function graft.checksum: partial-agg exact, order-blind, null-sensitive") {
    import spark.implicits._
    val df = Seq[java.lang.Long](5L, -3L, 5L, null, 2147483650L)
      .toDF("x")
    df.createOrReplaceTempView("cksum_in")
    def viaAgg(parts: Int): Long = {
      spark.sql(s"SELECT graft.checksum(x) FROM (SELECT /*+ REPARTITION($parts) */ x FROM cksum_in)")
        .collect().head.getLong(0)
    }
    val expected = Seq(5L, -3L, 5L, 2147483650L)
      .map(ChecksumBound.hash).sum + 1L // + the NULL token
    // exact under any partitioning (update/merge tree shapes differ)
    assert(viaAgg(1) == expected)
    assert(viaAgg(7) == expected)
    // null-sensitive: an extra NULL changes the checksum
    val withExtraNull = Seq[java.lang.Long](5L, -3L, 5L, null, null, 2147483650L)
      .toDF("x")
    withExtraNull.createOrReplaceTempView("cksum_in2")
    assert(spark.sql("SELECT graft.checksum(x) FROM cksum_in2")
      .collect().head.getLong(0) == expected + 1L)
    // arity/type rejection
    intercept[Exception] {
      spark.sql("SELECT graft.checksum(x, x) FROM cksum_in").collect()
    }
    // GROUP BY planning carries a partial-aggregate pair
    val plan = spark.sql(
      "SELECT x % 2, graft.checksum(x) FROM cksum_in GROUP BY x % 2")
      .queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"no aggregate exec:\n$plan")
  }

  test("RTAS: snapshot-scoped schema, schema-aware CDF across the boundary, " +
       "archive GC, abort restore") {
    val dir = "target/tmp/catalog_spec_rtas"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.conf.set(GraftCatalog.CtasDirKey, dir)
    try {
      // v1: trailing STRING column; the replace swaps it for a BIGINT —
      // the ordinal-decode trap time travel must survive
      spark.sql("""CREATE TABLE graft.rt PARTITIONED BY (grp) AS
                  |SELECT id AS k, tag AS grp, id * 2 AS amt_cents,
                  |       CONCAT('s', tag) AS label
                  |FROM graft.range_200k WHERE id < 100""".stripMargin)
      spark.sql("""REPLACE TABLE graft.rt AS
                  |SELECT id AS k, tag AS grp, id * 3 AS amt_cents,
                  |       id % 5 AS b5
                  |FROM graft.range_200k WHERE id < 50""".stripMargin)
      val root = new org.apache.hadoop.fs.Path(s"$dir/rt")
      // current read: new schema, new content, spec dropped by the replace
      assert(spark.table("graft.rt").count() == 50)
      assert(spark.table("graft.rt").schema.fieldNames.last == "b5")
      assert(StoreSink.readPartSpec(root, fs).isEmpty,
        "REPLACE without PARTITIONED BY must drop the spec")
      // time travel reads v1 under the ARCHIVED schema (label, not b5)
      val v1 = spark.sql("SELECT * FROM graft.rt VERSION AS OF 1")
      assert(v1.schema.fieldNames.last == "label")
      assert(v1.where("label = 'sa'").count() > 0)
      // SCHEMA-AWARE CDF across the replace boundary: each side reads
      // under ITS schema, both project onto the destination's (b5, not
      // label) — a replace surfaces as delete-all-old + insert-all-new
      val cdf = StoreSink.changes(spark, s"$dir/rt", 1, Some(2))
      assert(cdf.columns.toSeq == Seq("op", "k", "grp", "amt_cents", "b5"))
      val byOp = cdf.collect().groupBy(_.getString(0))
      assert(byOp("delete").length == 100 && byOp("insert").length == 50,
        s"replace CDF must be full delete+insert: ${byOp.view.mapValues(_.length).toMap}")
      // deleted rows carry the OLD generation's values, null-padded in
      // the new column; inserted rows carry the new generation's
      assert(byOp("delete").forall(r => r.isNullAt(4) &&
        r.getLong(3) == r.getLong(1) * 2))
      assert(byOp("insert").forall(r => r.getLong(3) == r.getLong(1) * 3 &&
        r.getLong(4) == r.getLong(1) % 5))
      // vacuum to 1 version: v1 expires, its schema archive dies with it
      assert(StoreSink.listSchemaArchives(root, fs).nonEmpty)
      StoreSink.vacuum(s"$dir/rt", 1)
      assert(StoreSink.listSchemaArchives(root, fs).isEmpty,
        "expired generation's schema archive must be GC'd")
      // failed replace: sidecars restored, content intact
      intercept[Exception] {
        spark.sql("""REPLACE TABLE graft.rt AS
                    |SELECT id AS k, tag AS grp, 1L DIV (id - id) AS amt_cents
                    |FROM graft.range_200k WHERE id < 10""".stripMargin)
      }
      assert(spark.table("graft.rt").count() == 50)
      assert(spark.table("graft.rt").schema.fieldNames.last == "b5",
        "aborted replace must restore the schema sidecar")
      spark.sql("DROP TABLE graft.rt")
    } finally spark.conf.unset(GraftCatalog.CtasDirKey)
  }

  test("rename survives a REPLACE: per-version schema resolution reads " +
       "each generation under the name it was committed with") {
    val dir = "target/tmp/catalog_spec_rename_rtas"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    spark.conf.set(GraftCatalog.CtasDirKey, dir)
    try {
      spark.sql("""CREATE TABLE graft.rn AS
                  |SELECT id AS k, tag AS grp, id * 2 AS amt_cents,
                  |       CONCAT('s', tag) AS label
                  |FROM graft.range_200k WHERE id < 100""".stripMargin) // v1
      // rename on a CTAS table (field-id metadata move), then commit
      // under the NEW name
      spark.sql("ALTER TABLE graft.rn RENAME COLUMN label TO tag2")
      spark.sql("INSERT INTO graft.rn VALUES (1000, 'z', 1, 'sz')") // v2
      assert(spark.table("graft.rn").where("tag2 = 'sz'").count() == 1)
      assert(spark.table("graft.rn").where("tag2 = 'sa'").count() > 0,
        "pre-rename files must read under the renamed column")
      // REPLACE swaps the trailing schema entirely
      spark.sql("""REPLACE TABLE graft.rn AS
                  |SELECT id AS k, tag AS grp, id * 3 AS amt_cents,
                  |       id % 5 AS b5
                  |FROM graft.range_200k WHERE id < 50""".stripMargin) // v3
      assert(spark.table("graft.rn").schema.fieldNames.last == "b5")
      // v2 committed under the RENAMED schema; v1 under the ORIGINAL —
      // each travel read resolves its own archive (first-wins)
      val v2 = spark.sql("SELECT * FROM graft.rn VERSION AS OF 2")
      assert(v2.schema.fieldNames.last == "tag2")
      assert(v2.where("tag2 = 'sz'").count() == 1 &&
             v2.where("tag2 = 'sa'").count() > 0)
      val v1 = spark.sql("SELECT * FROM graft.rn VERSION AS OF 1")
      assert(v1.schema.fieldNames.last == "label")
      assert(v1.where("label = 'sa'").count() > 0)
      spark.sql("DROP TABLE graft.rn")
    } finally spark.conf.unset(GraftCatalog.CtasDirKey)
  }

  test("table properties: SET/UNSET round-trip and property-resolved vacuum") {
    val dir = "target/tmp/catalog_spec_props"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    import spark.implicits._
    (1L to 40L).map(k => (k, s"g${k % 4}", k * 10)).toDF("k", "grp", "amt_cents")
      .write.format("graft.sources.StoreSink").mode("overwrite")
      .option("path", dir).save()
    spark.conf.set(GraftCatalog.StorePathKey, dir)
    try {
      // three generations
      spark.sql("UPDATE graft.store SET amt_cents = amt_cents + 1 WHERE grp = 'g1'")
      spark.sql("UPDATE graft.store SET amt_cents = amt_cents + 1 WHERE grp = 'g1'")
      spark.sql("ALTER TABLE graft.store SET TBLPROPERTIES ('graft.vacuum.keep'='1','note'='x')")
      val props = spark.sql("SHOW TBLPROPERTIES graft.store").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(props.get("graft.vacuum.keep").contains("1") &&
        props.get("note").contains("x"))
      // vacuum with no explicit count resolves the table property
      StoreSink.vacuum(dir, 0)
      val root = new org.apache.hadoop.fs.Path(dir)
      assert(StoreSink.listVersions(root, StoreSink.fs(root)).size == 1)
      spark.sql("ALTER TABLE graft.store UNSET TBLPROPERTIES ('note')")
      val after = spark.sql("SHOW TBLPROPERTIES graft.store").collect()
        .map(_.getString(0)).toSet
      assert(!after("note") && after("graft.vacuum.keep"))
      // with NO property and no explicit count, the default (2) applies —
      // nothing to expire here beyond it, just assert it doesn't throw
      spark.sql("ALTER TABLE graft.store UNSET TBLPROPERTIES ('graft.vacuum.keep')")
      StoreSink.vacuum(dir, 0)
    } finally spark.conf.unset(GraftCatalog.StorePathKey)
  }
}
