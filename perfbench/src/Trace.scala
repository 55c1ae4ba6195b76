package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side work attributed to one layer. */
final class Counts {
  var jobs, stages, tasks, taskCpuNs, runMs, resultBytes = 0L
  var shWrite, shRead, fetchWaitMs, spill, inBytes, inRows = 0L
}

/** One traced call into a layer. Spans of one request share `req`. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      req: String, startNs: Long, endNs: Long)

/** Spans and counts of a traced run.
  *
  * [[span]] wraps a call the benchmark makes into one graft layer. It sets
  * the Spark job group to `<request id>|<layer>`, so every job, stage and
  * task the call starts (also from threads it spawns, which inherit the
  * group) is counted against that layer where the scheduler reports it.
  * Spans stay in memory until the run writes them out. While [[active]]
  * is false, [[span]] only runs its body: timed runs pay no tracing cost.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  var active = false
  private var open: List[Int] = Nil
  private val layers = mutable.Map.empty[String, Counts]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
  private var planned = 0L
  private var batches, batchMs, addBatchMs, stateCommitMs = 0L
  private val stateRows = mutable.Map.empty[java.util.UUID, Long]

  def span[T](name: String, layer: String, req: String)(body: => T): T = {
    if (!active) return body
    val id = spans.size + open.size
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"$req|$layer", name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, layer, req, t0, System.nanoTime())
      open = open.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .map(_.split('|').last).getOrElse("other")

  private def counts(layer: String) = layers.getOrElseUpdate(layer, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    counts(layerOf(e.properties)).jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val l = layerOf(e.properties)
    stageLayer(e.stageInfo.stageId) = l
    counts(l).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageLayer.getOrElse(e.stageId, "other"))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskCpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.resultBytes += m.resultSize
      c.shWrite += m.shuffleWriteMetrics.bytesWritten
      c.shRead += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
    }
  }

  private val queryListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Tracer.this.synchronized { planned += Tracer.plannedFiles(qe.executedPlan) }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala
      batches += 1
      batchMs += d.get("triggerExecution").map(_.longValue).getOrElse(0L)
      addBatchMs += d.get("addBatch").map(_.longValue).getOrElse(0L)
      stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
      stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
    }
  }

  /** Plans run through `toRdd` are no Dataset action, so the caller adds
    * their planned-file counts here. */
  def addPlanned(plan: SparkPlan): Unit = synchronized { planned += Tracer.plannedFiles(plan) }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  def stop(): Unit = {
    active = false
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Totals over the layers whose name starts with `prefix` ("" = all). */
  def total(prefix: String = ""): Counts = totalWhere(_.startsWith(prefix))

  /** Totals over the layers whose name satisfies `p`. */
  def totalWhere(p: String => Boolean): Counts = synchronized {
    val t = new Counts
    layers.collect { case (l, c) if p(l) =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.taskCpuNs += c.taskCpuNs; t.runMs += c.runMs; t.resultBytes += c.resultBytes
      t.shWrite += c.shWrite; t.shRead += c.shRead; t.fetchWaitMs += c.fetchWaitMs
      t.spill += c.spill; t.inBytes += c.inBytes; t.inRows += c.inRows
    }
    t
  }

  /** Seconds of [fromMs, toMs] during which no Spark job was running. */
  def driverGapS(fromMs: Long, toMs: Long): Double = synchronized {
    val iv = jobSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = fromMs
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (toMs - fromMs - covered) / 1e3
  }

  def plannedFiles: Long = synchronized(planned)
  def stream: (Long, Long, Long, Long, Long) = synchronized(
    (batches, batchMs, addBatchMs, stateCommitMs, stateRows.values.sum))

  /** Seconds spent inside spans of `layer` (their own duration, summed). */
  def spanS(layer: String): Double = spanSWhere(_ == layer)

  /** Seconds spent inside spans whose layer satisfies `p`. */
  def spanSWhere(p: String => Boolean): Double =
    spans.filter(s => p(s.layer)).map(s => (s.endNs - s.startNs) / 1e9).sum
}

object Tracer {
  /** Sum of the store scan's `plannedFiles` metric over a physical plan,
    * through adaptive and query-stage wrappers and subqueries. */
  def plannedFiles(p: SparkPlan): Long = {
    val own = p.metrics.get("plannedFiles").map(_.value).getOrElse(0L)
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    own + kids.map(plannedFiles).sum
  }
}
