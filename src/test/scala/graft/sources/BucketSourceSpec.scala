package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Storage-partitioned join observability (BucketSource.scala): with v2
  * bucketing enabled the reported KeyGroupedPartitioning must delete BOTH
  * shuffle exchanges from the join; without it the same join must shuffle —
  * the plan delta IS the feature. */
class BucketSourceSpec extends SparkSpec {

  private def bucketed(rows: Long, groups: Int) =
    spark.read.format("graft.sources.BucketSource")
      .option("rows", rows.toString).option("groups", groups.toString).load()

  private def joined = {
    val a = bucketed(40000, 8)
    val b = bucketed(8, 8).select(col("grp"), col("amt").as("dim_amt"))
    a.join(b, "grp") // no agg/sort on top: the join subplan is the subject
  }

  private def withConfs[T](on: Boolean)(body: => T): T =
    graft.GraftSession.withConf(spark)(
      "spark.sql.sources.v2.bucketing.enabled" -> on.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  test("reported KeyGroupedPartitioning plans the join with ZERO exchanges") {
    withConfs(on = true) {
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
      assert(joined.count() == 40000L)
    }
  }

  test("reported partitioning also satisfies aggregation clustering (no exchange)") {
    withConfs(on = true) {
      val agg = bucketed(40000, 8).groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), sum(col("amt")).as("amt_sum"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"groupBy on the reported partition key still shuffles:\n$plan")
      assert(agg.collect().map(_.getLong(1)).sum == 40000L)
    }
  }

  test("without v2 bucketing the same join shuffles (the contrast)") {
    withConfs(on = false) {
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange"),
        s"expected the default plan to shuffle:\n$plan")
    }
  }

  test("generator closed forms and per-bucket row placement") {
    val rows = bucketed(64, 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 64)
    rows.foreach { case (grp, id, amt) =>
      assert(grp == "g" + (id % 8) && amt == BucketSource.amtOf(id))
    }
    // one partition per group, rows co-located with their key
    assert(bucketed(64, 8).rdd.getNumPartitions == 8)
  }
}
