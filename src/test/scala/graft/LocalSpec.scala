package graft

import graft.GraftSession.withConf
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The bounded local result: the bound is enforced, the collect is the
  * frame's own single job, and rows and schema are the frame's own. */
class LocalSpec extends SparkSpec {

  test("an over-bound frame throws, naming the bound and the row count") {
    val e = intercept[IllegalStateException](Local(spark.range(10).toDF(), 9))
    assert(e.getMessage.contains("10 rows") && e.getMessage.contains("bound 9"),
      e.getMessage)
    assert(Local(spark.range(10).toDF(), 10).rows.size == 10)
  }

  test("the collect of an unordered aggregate runs exactly one Spark job") {
    // several shuffle partitions hold a few keys each, so a limit-based
    // bound (CollectLimitExec's executeTake) would need more than one job
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val local = withConf(spark)("spark.sql.shuffle.partitions" -> "8",
        "spark.sql.adaptive.enabled" -> "false") {
      val df = spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 50).as("k")).agg(count(lit(1)).as("n"))
      spark.sparkContext.addSparkListener(listener)
      try {
        val l = Local(df, 50)
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        l
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get == 1, s"${jobs.get} jobs")
    assert(local.rows.size == 50)
  }

  test("rows and schema are the frame's own; appended rows reach toDF") {
    val df = spark.range(5)
      .select(col("id"), (col("id") * 2).as("twice"), lit("x").as("tag"))
    val local = Local(df, 5)
    assert(local.schema == df.schema)
    assert(local.rows == df.collect().toSeq)
    val out = (local ++ Seq(Row(-1L, -2L, "z"))).toDF(spark)
    assert(out.schema == df.schema)
    assert(out.collect().toSeq == df.collect().toSeq :+ Row(-1L, -2L, "z"))
  }
}
