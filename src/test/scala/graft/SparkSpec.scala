package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the same [[GraftSession.build]] session Verify
  * runs on, so tests see what the DuckDB correctness gate sees. One
  * session per forked test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Unit tests run at the smallest SF; the driver gate runs sf0.01. */
  val sf = "/root/testdata/sf0.001"

  /** Runs `body`; returns its value and the executed plan of every query
    * it ran, in completion order. For scans behind `count()` or inside a
    * probe's own collect, whose Dataset the spec never holds. */
  def withPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // a query that finished just before the capture may still have its
    // end event queued; drain first so only `body`'s queries are captured
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val out = try {
      val r = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    (out, plans.asScala.toSeq)
  }

  /** The scans of every query `body` ran. */
  def scansOf(body: => Any): graft.sources.ScanMetrics =
    graft.sources.ScanMetrics(withPlans(body)._2)
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("4")
}
