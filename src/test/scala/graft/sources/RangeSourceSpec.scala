package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Observability of the DSv2 contracts: the pushed id bounds must appear in
  * the scan's description (i.e. the SCAN was narrowed, not a post-filter),
  * partition planning must scale with the residual range, and column
  * pruning must reach readSchema. */
class RangeSourceSpec extends SparkSpec {

  private def ranged(start: Long, end: Long) =
    spark.read.format("graft.sources.RangeSource")
      .option("start", start.toString).option("end", end.toString).load()

  test("id bounds push into the scan (plan shows the residual range)") {
    val df = ranged(0, 200000).where(col("id") >= 50000 && col("id") < 150000)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftRangeScan[50000, 150000)"),
      s"scan not narrowed by pushdown:\n$p")
    assert(df.count() == 100000)
  }

  test("partition count follows the residual range, not the declared extent") {
    val full = ranged(0, 200000)
    val narrowed = ranged(0, 200000).where(col("id") >= 150000)
    assert(full.rdd.getNumPartitions == 8)
    assert(narrowed.rdd.getNumPartitions == 2,
      "partitions outside the pushed bounds must not be planned")
  }

  test("column pruning reaches readSchema") {
    val df = ranged(0, 50000).select(col("id"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("cols=id"), s"projection did not prune the scan:\n$p")
  }

  test("non-pushable predicates stay post-scan and still filter correctly") {
    val df = ranged(0, 1000).where(col("tag") === "a")
    assert(df.count() == 250)
    // every 4th id is 'a'; values must match the closed form
    val r = df.where(col("id") === 8).collect()
    assert(r.length == 1 && r(0).getDouble(1) == RangeSource.valOf(8))
  }

  test("aggregate pushdown: COUNT/MIN/MAX compute closed-form in the source") {
    val df = ranged(0, 200000)
      .where(col("id") >= 50000 && col("id") < 180000)
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
           max(col("id")).as("max_id"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("agg=count,min,max"),
      s"aggregation not pushed into the scan:\n$p")
    val r = df.collect().head
    assert(r.getLong(0) == 130000L && r.getLong(1) == 50000L
           && r.getLong(2) == 179999L)
  }

  test("group-by aggregates decline pushdown and stay correct") {
    val df = ranged(0, 1000).groupBy(col("tag")).count()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("agg="), "grouped aggregation must fall back to the row scan")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toMap
           == Map("a" -> 250L, "b" -> 250L, "c" -> 250L, "d" -> 250L))
  }

  test("runtime filtering: DPP narrows partition planning to the dim's keys") {
    val dim = spark.range(0, 200000, 25000)
      .select(col("id").as("dim_id")).where(col("dim_id") % 3 === 0)
    val q = ranged(0, 200000).join(broadcast(dim), col("id") === col("dim_id"))
      .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
           max(col("id")).as("max_id"))
    assert(q.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "no dynamicpruning subquery planned on the v2 scan")
    val r = q.collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 0L && r.getLong(2) == 150000L)
    // 8 slices in the declared extent; only the 3 holding dim keys planned
    val slices = (ScanMetrics(q).sum("slices"), ScanMetrics(q).sum("plannedSlices"))
    assert(slices == ((8L, 3L)), s"expected 8→3 slice narrowing, got $slices")
  }

  test("EqualTo prunes to a single-row scan") {
    val df = ranged(0, 200000).where(col("id") === 123456L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftRangeScan[123456, 123457)"), p)
    assert(df.count() == 1)
  }

  test("LIMIT pushdown bounds the planned range to the first n rows") {
    val df = ranged(0, 200000).where(col("id") >= 50000).limit(7)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftRangeScan[50000, 50007) limit=7"),
      s"limit not pushed into the scan:\n$p")
    assert(df.rdd.getNumPartitions == 1,
      "a pushed limit must not plan slices beyond the bound")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (50000L until 50007L))
  }

  test("TopN pushdown plans the closed-form suffix for ORDER BY id DESC") {
    val df = ranged(0, 200000).where(col("id") < 150000)
      .orderBy(col("id").desc).limit(5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("GraftRangeScan[149995, 150000) limit=5 desc"),
      s"top-n not pushed into the scan:\n$p")
    // partial push: Spark's sort stays on top and the result is exact
    assert(df.collect().map(_.getLong(0)).toSeq ==
      Seq(149999L, 149998L, 149997L, 149996L, 149995L))
  }

  test("OFFSET pushdown plans the page window, not the prefix") {
    val df = ranged(0, 200000).where(col("id") >= 1000).offset(7).limit(3)
    val p = df.queryExecution.executedPlan.toString
    // Spark pushes limit = offset+limit (10) plus the offset (7): the
    // planned window is exactly the page
    assert(p.contains("GraftRangeScan[1007, 1010) limit=10"),
      s"offset not pushed into the scan:\n$p")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(1007L, 1008L, 1009L))
  }

  test("TABLESAMPLE pushes into the source; Spark's Sample operator is removed") {
    val df = ranged(0, 200000).sample(0.1, 7L)
      .where(col("id") >= 50000 && col("id") < 150000)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Sample 0.0"), s"Sample survived the pushdown:\n$p")
    assert(p.contains("sample=[0.0,0.1)@7"), s"scan does not carry the sample:\n$p")
    assert(p.contains("GraftRangeScan[50000, 150000)"),
      s"filters must still push under the sampled scan:\n$p")
    // the exact LCG row set, not a statistical check
    val expect = (50000L until 150000L).count(RangeSource.sampleKeep(_, 0.0, 0.1, 7L))
    assert(df.count() == expect)
    // with-replacement declines: Spark keeps its own operator
    val wr = ranged(0, 20000).sample(withReplacement = true, 0.1, 7L)
    assert(wr.queryExecution.executedPlan.toString.contains("Sample"),
      "with-replacement sample must NOT push (not a per-row predicate)")
    // closed-form aggregate pushdown must not fire on a sampled scan
    val agg = ranged(0, 200000).sample(0.1, 7L).agg(count(lit(1)))
    assert(agg.collect()(0).getLong(0) ==
      (0L until 200000L).count(RangeSource.sampleKeep(_, 0.0, 0.1, 7L)),
      "sampled COUNT must count sampled rows, not the closed form")
  }

  test("TopN on a non-id key declines and stays correct") {
    val df = ranged(0, 1000).orderBy(col("tag").desc, col("id")).limit(3)
    val p = df.queryExecution.executedPlan.toString
    // the SCAN description must not carry a pushed bound (Spark's own
    // TakeOrderedAndProject prints limit= too — match the scan line only)
    assert(!p.contains(") limit="), s"top-n on tag must not push:\n$p")
    assert(df.collect().map(r => (r.getString(2), r.getLong(0))).toSeq ==
      Seq(("d", 3L), ("d", 7L), ("d", 11L)))
  }

  test("reported statistics reflect pushdown and drive broadcast planning") {
    // post-pushdown stats: 2000 rows on a 2M-row declared extent
    val narrowed = ranged(0, 2000000).where(col("id") < 2000)
    val stats = narrowed.queryExecution.optimizedPlan.stats
    assert(stats.sizeInBytes == BigInt(2000L * RangeSource.RowBytes),
      s"stats must come from the post-pushdown scan, got ${stats.sizeInBytes}")
    assert(stats.rowCount.contains(BigInt(2000)), s"rowCount: ${stats.rowCount}")

    // under the default 10 MB threshold the 48 KB side broadcasts with no hint
    val big = spark.range(0, 500000).select(col("id").as("b_id"))
    val joined = big.join(narrowed, col("b_id") === col("id"))
    assert(joined.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "stats-driven broadcast did not happen")

    // flip: a threshold below the reported size must NOT broadcast
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try {
      val p2 = big.join(narrowed, col("b_id") === col("id"))
        .queryExecution.executedPlan.toString
      assert(!p2.contains("BroadcastHashJoin"),
        s"48 KB side broadcast under a 1 KB threshold — stats ignored?\n$p2")
    } finally spark.conf.set(key, prev)
  }

  test("admission control caps each micro-batch; AvailableNow drains and stops") {
    val base = "target/tmp/rangestream_admission"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val feedId = "spec-admission"
    RangeSource.resetFeed(feedId)
    val q = spark.readStream.format("graft.sources.RangeSource")
      .option("start", "0").option("end", "100000")
      .option("feedId", feedId)
      .option("maxRowsPerTrigger", "30000")
      .load()
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/chk")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination() // AvailableNow must self-terminate
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    assert(progress.forall(_.numInputRows <= 30000),
      s"a batch exceeded the admission cap: ${progress.map(_.numInputRows).mkString(",")}")
    assert(progress.length >= 4, // 100k rows / 30k cap → at least 4 batches
      s"expected the backlog drained in capped batches, got ${progress.length}")
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 100000L && out.select(col("id")).distinct().count() == 100000L,
      "AvailableNow drain lost or duplicated rows")
  }

  test("micro-batch read resumes from the committed offset across restarts") {
    val base = "target/tmp/rangestream_spec"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val feedId = "spec-restart"
    RangeSource.resetFeed(feedId)
    def run(reveals: Int): Array[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      val q = spark.readStream.format("graft.sources.RangeSource")
        .option("start", "0").option("end", "200000")
        .option("feedId", feedId).option("chunkRows", "30000")
        .option("revealsPerRun", reveals.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", s"$base/out").option("checkpointLocation", s"$base/chk")
        .start()
      try { q.processAllAvailable(); q.recentProgress } finally q.stop()
    }
    // run 1: the external log only yields two chunks during this run
    run(2)
    assert(spark.read.parquet(s"$base/out").count() == 60000L,
      "run 1 must drain exactly the two revealed chunks")
    // run 2: must resume AT the committed offset — not initialOffset
    val start = run(Int.MaxValue).head.sources.head.startOffset
    assert(start == "60000", s"restart planned from $start, not the committed offset")
    val all = spark.read.parquet(s"$base/out")
    assert(all.count() == 200000L, "restart lost or duplicated an offset range")
    assert(all.select(col("id")).distinct().count() == 200000L,
      "restart re-read an offset range")
  }

  test("join pushdown: an id-equality inner self-source join collapses " +
       "into one intersected scan; outer and non-id joins fall back") {
    def withJoinPushdown[T](body: => T): T = {
      val key = "spark.sql.optimizer.datasourceV2JoinPushdown"
      spark.conf.set(key, "true")
      try body finally spark.conf.unset(key)
    }
    val joinExec = Seq("SortMergeJoin", "BroadcastHashJoin",
      "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
    withJoinPushdown {
      val a = ranged(0, 60000)
      val b = ranged(30000, 90000)
      val j = a.join(b, a("id") === b("id"))
        .select(a("id").as("jid"), a("val").as("va"), b("tag").as("tb"))
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("pushedJoin=id-intersect") &&
        p.contains("GraftRangeScan[30000, 60000)"),
        s"join not pushed into the source:\n$p")
      assert(!joinExec.exists(p.contains), s"join exec survived the push:\n$p")
      assert(j.count() == 30000)
      val row = j.where(col("jid") === 31007L).collect()(0)
      assert(row.getDouble(1) == RangeSource.valOf(31007L) &&
        row.getString(2) == RangeSource.tagOf(31007L),
        "fused scan produced wrong column values")
      // filters pushed BEFORE the join narrow the intersection further
      val jf = a.where(col("id") >= 40000).join(b, a("id") === b("id"))
      val pf = jf.queryExecution.executedPlan.toString
      assert(pf.contains("GraftRangeScan[40000, 60000)"),
        s"side filter did not narrow the fused range:\n$pf")
      assert(jf.count() == 20000)
      // non-inner joins decline into an ordinary Spark join
      val outer = a.join(b, a("id") === b("id"), "left_outer")
      assert(joinExec.exists(outer.queryExecution.executedPlan.toString.contains),
        "outer join must not push")
      assert(outer.count() == 60000)
      // a non-id condition declines
      val theta = a.join(b, a("val") === b("val"))
      assert(joinExec.exists(theta.queryExecution.executedPlan.toString.contains),
        "non-id condition must not push")
    }
  }
}
