package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.sources.{AnnIndex, GraftCatalog, ManifestFiles, MaxSimIndex, StoreSink, TextIndex}

/** Command line of one benchmark process (see perfbench/run.py). */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      data: String, tiny: String, work: String, out: String,
                      cpus: Int, setups: Int, queries: Seq[String])

/** One operation of the timed phase. */
final case class Op(pass: Int, name: String, kind: String, seconds: Double,
                    rows: Long, ok: Boolean)

/** Entry point: `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  * --data DIR --tiny DIR --work DIR --out FILE --cpus N --setups N
  * [--queries a,b,c]`. Writes every sample, check and traced count of the
  * run as one JSON object to FILE; perfbench/run.py turns it into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val c = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("data"), a("tiny"), a("work"), a("out"),
      a("cpus").toInt, a("setups").toInt,
      a.getOrElse("queries", "").split(',').toSeq.filter(_.nonEmpty))
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w: Workload = c.workload match {
      case "corpus_serve" => new CorpusServe(c)
      case _ => new Analytics(c)
    }
    w.result("jvm_boot_s") = bootS
    try w.run()
    finally {
      Files.writeString(Paths.get(c.out), Json(w.result))
      w.close()
    }
  }
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${apply(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case p: Product => apply(p.productElementNames.zip(p.productIterator).toMap)
    case null => "null"
  }
}

object Workload {
  /** With tracing on, passes 0 and 1 run untraced (pass 1 is the reference
    * for the tracing overhead) and pass 2 is traced. */
  val TracedPass = 2
  /** Rows of one calibration run: about 0.25 s on a quiet 4-core host. */
  val CalibRows = 20000000L
  val CalibReps = 5
}

/** Shared run structure: set up several times, then a timed phase of
  * passes over the workload's fixed operation sequence, then untimed output
  * checks. With tracing on, fixed untraced passes and one traced pass
  * replace the timed phase, and the traced pass's layer counts are reported. */
abstract class Workload(val c: Conf) {
  val result = mutable.LinkedHashMap.empty[String, Any]
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val calibs = mutable.ArrayBuffer.empty[Double]
  var spark: SparkSession = _
  var tr: Tracer = _
  new File(c.work).mkdirs()

  def warm(): Unit
  def seedData(): Unit = ()
  def afterSetup(): Unit = ()
  /** Runs pass `p`; returns its wall seconds. */
  def pass(p: Int): Double
  def finalChecks(): Unit
  def layerMetrics(m: mutable.LinkedHashMap[String, Double], passS: Double,
                   fromMs: Long, toMs: Long): Unit

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def newSession(): Unit = {
    if (spark != null) {
      graft.ops.LlmOps.release()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      // the status store keeps little history, so the live heap measured
      // after the timed phase does not grow with the number of passes run
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tr = new Tracer(spark)
  }

  /** Host calibration, run before every pass and after the last: a fixed
    * shuffle aggregate over `range`, a plan shape no graft rule or extension
    * rewrites, repeated `CalibReps` times. run.py scales the time metrics by
    * the run's median, and prints every sample so a loaded host shows. */
  def calibrate(reps: Int = Workload.CalibReps): Unit = {
    System.gc() // every calibration and the pass after it start from a collected heap
    (1 to reps).foreach { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, Workload.CalibRows, 1L, c.cpus)
        .selectExpr("id % 1000 AS k", "id * 7 % 1013 AS v")
        .groupBy("k").sum("v").collect()
      calibs += secs(t0)
    }
  }

  def run(): Unit = {
    val phase = mutable.LinkedHashMap.empty[String, Double]
    result("phase_s") = phase
    var ph = System.nanoTime()
    def mark(name: String): Unit = { phase(name) = secs(ph); ph = System.nanoTime() }
    val cycles = (1 to c.setups).map { _ =>
      val t0 = System.nanoTime()
      newSession()
      warm()
      seedData()
      secs(t0)
    }
    result("setup_cycles_s") = cycles
    mark("setup")
    afterSetup()
    calibrate(1) // warms the calibration itself
    calibs.clear()
    // before the timed phase, so it does not depend on how many passes fit
    result("heap_live_mb") = liveHeapMb()
    mark("after_setup")
    val passes = mutable.ArrayBuffer.empty[Double]
    val gc0 = gcMs()
    result("timed_from_ms") = System.currentTimeMillis()
    if (!c.trace) {
      val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
      var p = 0
      while (p == 0 || System.nanoTime() < deadline) {
        calibrate()
        passes += pass(p)
        p += 1
      }
      calibrate()
    } else {
      calibrate()
      (0 until Workload.TracedPass).foreach(p => passes += pass(p))
      calibrate()
      val gcT = gcMs()
      tr.start()
      val wall0 = System.currentTimeMillis()
      val tracedS = pass(Workload.TracedPass)
      val wall1 = System.currentTimeMillis()
      tr.stop()
      val m = mutable.LinkedHashMap.empty[String, Double]
      layerMetrics(m, tracedS, wall0, wall1)
      m("jvm.gc_s") = (gcMs() - gcT) / 1e3
      m("trace.pass_s") = tracedS
      m("trace.untraced_pass_s") = passes.last
      m("trace.overhead") = tracedS / passes.last
      result("layers") = m
      Files.writeString(Paths.get(s"${c.out}.spans.json"), Json(tr.spans))
      calibrate()
    }
    result("gc_s") = (gcMs() - gc0) / 1e3
    result("passes_s") = passes
    result("calib_s") = calibs
    mark("timed")
    finalChecks()
    mark("checks")
    result("ops") = ops
    result("errors") = errors
    result("checks") = checks
  }

  /** Heap in use after forced collections; Spark's cleaner frees shuffle
    * and broadcast state only once their owners are collected, so collect,
    * let it run, and take the lowest reading. */
  def liveHeapMb(): Double = (1 to 2).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def close(): Unit = if (spark != null) {
    graft.ops.LlmOps.release()
    spark.stop()
  }

  /** Runtime, shuffle and scan counts of the traced pass. */
  def runtimeMetrics(m: mutable.LinkedHashMap[String, Double], passS: Double,
                     fromMs: Long, toMs: Long, resultRows: Long): Unit = {
    val t = tr.total()
    m("runtime.jobs") = t.jobs
    m("runtime.stages") = t.stages
    m("runtime.tasks") = t.tasks
    m("runtime.tasks_per_stage") = if (t.stages == 0) 0.0 else t.tasks.toDouble / t.stages
    m("runtime.task_cpu_s") = t.taskCpuNs / 1e9
    m("runtime.executor_run_s") = t.runMs / 1e3
    m("runtime.core_util") = t.runMs / 1e3 / (passS * c.cpus)
    m("runtime.driver_gap_s") = tr.driverGapS(fromMs, toMs)
    m("runtime.result_mb") = t.resultBytes / 1e6
    m("ops.construct_s") = tr.spanSWhere(_.endsWith("ops.construct"))
    m("ops.eager_jobs") = tr.totalWhere(_.endsWith("ops.construct")).jobs
    m("plans.plan_s") = tr.spanSWhere(_.endsWith("plans"))
    m("shuffle.write_mb") = t.shWrite / 1e6
    m("shuffle.read_mb") = t.shRead / 1e6
    m("shuffle.fetch_wait_s") = t.fetchWaitMs / 1e3
    m("shuffle.spill_mb") = t.spill / 1e6
    m("scan.input_mb") = t.inBytes / 1e6
    m("scan.input_rows") = t.inRows
    m("scan.rows_per_result") = if (resultRows == 0) 0.0 else t.inRows.toDouble / resultRows
    m("store.files_planned") = tr.plannedFiles
    val (b, bms, abms, scms, rows) = tr.stream
    m("stream.batches") = b
    m("stream.batch_ms") = if (b == 0) 0.0 else bms.toDouble / b
    m("stream.add_batch_ms") = if (b == 0) 0.0 else abms.toDouble / b
    m("stream.state_commit_ms") = if (b == 0) 0.0 else scms.toDouble / b
    m("stream.state_rows") = rows
  }
}

/** Files under a directory, each with its size, modification time and
  * whether it lies inside a graft store (a directory holding `_manifest`). */
object StoreFiles {
  final case class F(path: String, bytes: Long, mtime: Long, inStore: Boolean)

  def walk(dir: File, inStore: Boolean = false): Seq[F] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    val store = inStore || kids.exists(_.getName == StoreSink.Manifest)
    kids.flatMap { f =>
      if (f.isDirectory) walk(f, store)
      else Seq(F(f.getPath, f.length(), f.lastModified(), store))
    }
  }

  def storeRoots(dir: File): Seq[String] = {
    val kids = Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil)
    (if (kids.exists(_.getName == StoreSink.Manifest)) Seq(dir.getPath) else Nil) ++
      kids.filter(_.isDirectory).flatMap(storeRoots)
  }
}

/** analytics_small: graft's registered queries over a
  * generated tier, each timed as `queryExecution.toRdd.count()`, in a seeded
  * order per pass. */
final class Analytics(c0: Conf) extends Workload(c0) {
  private val fns = c.queries.map(n => n -> SparkEntry.queries(n))

  private def warmOn(dir: String): Unit = fns.foreach { case (n, fn) =>
    try fn(spark, dir).queryExecution.toRdd.count()
    catch { case e: Throwable => errors += s"warmup $n: $e" }
  }

  def warm(): Unit = warmOn(c.tiny)

  def pass(p: Int): Double = {
    val order = new scala.util.Random(c.seed * 1000003L + p).shuffle(fns)
    val t0 = System.nanoTime()
    order.foreach { case (n, fn) =>
      val req = s"p$p:$n"
      val q0 = System.nanoTime()
      try tr.span(n, "query", req) {
        val df = tr.span(n, "ops.construct", req)(fn(spark, c.data))
        tr.span(n, "plans", req)(df.queryExecution.executedPlan)
        val rows = tr.span(n, "runtime.exec", req)(df.queryExecution.toRdd.count())
        val s = secs(q0)
        if (tr.active) tr.addPlanned(df.queryExecution.executedPlan)
        ops += Op(p, n, "query", s, rows, ok = true)
      } catch {
        case e: Throwable =>
          ops += Op(p, n, "query", secs(q0), -1, ok = false)
          errors += s"$n: $e"
      }
    }
    secs(t0)
  }

  def layerMetrics(m: mutable.LinkedHashMap[String, Double], passS: Double,
                   fromMs: Long, toMs: Long): Unit = {
    val traced = ops.filter(_.pass == Workload.TracedPass)
    runtimeMetrics(m, passS, fromMs, toMs, traced.filter(_.ok).map(_.rows).sum)
    val written = StoreFiles.walk(new File(c.work, "target")).filter(f => f.inStore && f.mtime >= fromMs)
    m("store.commit_s") = 0.0
    m("store.commits") = written.count(f => new File(f.path).getName.startsWith(StoreSink.Manifest + ".v"))
    m("store.bytes_written_mb") = written.map(_.bytes).sum / 1e6
    m("store.files_in_manifest") =
      StoreFiles.storeRoots(new File(c.work, "target")).map(ManifestFiles.count).sum
    m("store.compact_s") = 0.0
    m("store.bytes_rewritten_mb") = 0.0
    // the index layer is corpus_serve's; these queries use it only inside graft
    for (k <- CorpusServe.IndexKinds; x <- CorpusServe.IndexMetrics) m(s"index.$x.$k") = 0.0
  }

  /** Two untimed warm passes at full size, as the JIT keeps improving the
    * first passes at full size. The first writes each query's result out
    * for the output checks in run.py (the DuckDB oracle compare and the row
    * count every timed pass must repeat). */
  override def afterSetup(): Unit = {
    val t0 = System.nanoTime()
    val dumpDir = s"${c.work}/results"
    fns.foreach { case (n, fn) =>
      try fn(spark, c.data).coalesce(1).write.mode("overwrite").parquet(s"$dumpDir/$n")
      catch { case e: Throwable => errors += s"dump $n: $e" }
    }
    warmOn(c.data)
    result("warm_s") = secs(t0)
    result("results_dir") = dumpDir
    result("oracle_sql") = c.queries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
  }

  def finalChecks(): Unit = ()
}

/** corpus_serve: a living search corpus. Stores for a text corpus and a
  * multi-vector corpus, BM25 / IVF / MaxSim indexes built from them, then a
  * closed loop (one client) of probes with CDC ingests interleaved. */
final class CorpusServe(c0: Conf) extends Workload(c0) {
  import CorpusServe._
  private val root = s"${c.work}/corpus"
  private def textStore(r: String) = s"$r/text"
  private def vecStore(r: String) = s"$r/vec"
  private def bm25(r: String) = s"$r/idx_bm25"
  private def ann(r: String) = s"$r/idx_ann"
  private def maxsim(r: String) = s"$r/idx_maxsim"
  private val probes: IndexedSeq[Probe] = Probe.load(s"${c.data}/probes.json")
  /** Each kind's probes, taken in stream order. */
  private val byKind = probes.groupBy(_.kind)
  private val kindCursor = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var probeCount = 0
  private var batchCursor = 0
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private val compactS = mutable.ArrayBuffer.empty[Double]
  private var rewrittenBytes = 0L

  private def rm(p: String): Unit = {
    val f = new File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  private def seedStores(r: String): Unit = {
    rm(r)
    Seq((textStore(r), "text", "text"), (vecStore(r), "emb", "vec")).foreach {
      case (store, colName, file) =>
        spark.conf.set(GraftCatalog.StorePathKey, store)
        spark.sql(s"ALTER TABLE graft.store ADD COLUMN $colName STRING")
        spark.read.parquet(s"${c.data}/$file.parquet")
          .repartitionByRange(c.cpus, col("k"))
          .write.format("graft.sources.StoreSink").mode("append").option("path", store).save()
    }
  }

  private def buildAll(r: String): Unit = {
    val b = mutable.LinkedHashMap.empty[String, Double]
    var t0 = System.nanoTime()
    TextIndex.buildFromStore(spark, textStore(r), bm25(r), attr = true); b("bm25") = secs(t0)
    t0 = System.nanoTime()
    AnnIndex.buildFromStore(spark, vecStore(r), ann(r)); b("ann") = secs(t0)
    t0 = System.nanoTime()
    MaxSimIndex.buildFromStore(spark, vecStore(r), maxsim(r)); b("maxsim") = secs(t0)
    result("build_s") = b
  }

  private def merge(store: String, file: String, colName: String): Unit = {
    spark.read.parquet(file).createOrReplaceTempView("cdc_batch")
    spark.conf.set(GraftCatalog.StorePathKey, store)
    spark.sql(
      s"""MERGE INTO graft.store t USING cdc_batch s ON t.k = s.k
         |WHEN MATCHED AND s.op = 'D' THEN DELETE
         |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET grp = s.grp, amt_cents = s.amt_cents, $colName = s.$colName
         |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (k, grp, amt_cents, $colName)
         |  VALUES (s.k, s.grp, s.amt_cents, s.$colName)""".stripMargin)
  }

  /** One CDC batch into both stores, then every index refreshed: the time
    * until the change is searchable. */
  private def ingest(r: String, b: Int, req: String): Unit = tr.span("ingest", "ingest", req) {
    tr.span("merge.text", "store.merge", req)(
      merge(textStore(r), f"${c.data}/cdc/text-$b%04d.parquet", "text"))
    tr.span("merge.vec", "store.merge", req)(
      merge(vecStore(r), f"${c.data}/cdc/vec-$b%04d.parquet", "emb"))
    tr.span("refresh.bm25", "index.refresh.bm25", req)(TextIndex.refresh(spark, bm25(r)))
    tr.span("refresh.ann", "index.refresh.ann", req)(AnnIndex.refresh(spark, ann(r)))
    tr.span("refresh.maxsim", "index.refresh.maxsim", req)(MaxSimIndex.refresh(spark, maxsim(r)))
  }

  private def compact(r: String, req: String): Unit =
    tr.span("compact", "store.compact", req) {
      val before = if (tr.active) StoreFiles.walk(new File(r)).map(f => f.path -> f.mtime).toMap else Map.empty[String, Long]
      Seq(textStore(r), vecStore(r)).foreach(s =>
        StoreSink.compactIf(spark, s, CompactRows, CompactMaxFiles, CompactMaxOverlapE4))
      if (tr.active) rewrittenBytes += StoreFiles.walk(new File(r))
        .filter(f => !before.get(f.path).contains(f.mtime)).map(_.bytes).sum
    }

  private val annSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("nrm", DoubleType)))
  private val msSchema = StructType(Seq(StructField("q_id", LongType),
    StructField("qt", LongType), StructField("q_emb", ArrayType(FloatType)),
    StructField("q_nrm", DoubleType)))

  private def norm(v: Array[Float]): Double = {
    var s = 0.0f
    v.foreach(x => s += x * x)
    math.sqrt(s.toDouble)
  }

  private def annQuery(v: Array[Float]): DataFrame =
    spark.createDataFrame(Seq(Row(0L, v.toSeq, norm(v))).asJava, annSchema)

  private def msQuery(vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(vs.zipWithIndex.map { case (v, i) =>
      Row(0L, i.toLong, v.toSeq, norm(v)) }.asJava, msSchema)

  private def probeDf(r: String, q: Probe): DataFrame = q.kind match {
    case "bm25" => TextIndex.probeOr(spark, bm25(r), q.terms, topk = 10)
    case "bm25_attr" => TextIndex.probeOr(spark, bm25(r), q.terms, topk = 10, attrEq = Some(q.attr))
    case "ann" => AnnIndex.probe(spark, annQuery(q.vecs.head), ann(r))
    // store-built IVF postings carry attribute 0: the filter keeps all
    case "ann_filtered" => AnnIndex.probeFiltered(spark, annQuery(q.vecs.head), ann(r), attrEq = 0L)
    case "maxsim" => MaxSimIndex.probe(spark, msQuery(q.vecs), maxsim(r))
  }

  /** Runs one probe and collects it; returns the rows. The probe's span
    * splits into the call that returns the DataFrame, planning and the
    * collect, counted as the ops, plans and runtime layers of this index. */
  private def probe(r: String, q: Probe, req: String): Array[Row] = {
    val layer = s"index.probe.${IndexKinds.find(q.kind.startsWith).get}"
    tr.span(q.kind, layer, req) {
      val df = tr.span(q.kind, s"$layer.ops.construct", req)(probeDf(r, q))
      tr.span(q.kind, s"$layer.plans", req)(df.queryExecution.executedPlan)
      tr.span(q.kind, s"$layer.runtime.exec", req)(df.collect())
    }
  }

  private def shapeOk(q: Probe, rows: Array[Row]): Boolean =
    if (q.kind.startsWith("bm25")) rows.length <= 10 else rows.length == 5

  /** A set-up cycle starts the session and seeds the two corpus stores. */
  def warm(): Unit = ()

  override def seedData(): Unit = seedStores(root)

  /** The three index builds (build_s), then JIT warmup on the live corpus:
    * one probe of each index, the BM25 and IVF ones filtered (the same
    * code as the unfiltered probes, plus the filter), untimed. */
  override def afterSetup(): Unit = {
    buildAll(root)
    val t0 = System.nanoTime()
    Seq("bm25_attr", "ann_filtered", "maxsim").foreach(k => probe(root, nextProbe(k), "warm"))
    result("warm_s") = secs(t0)
  }

  private def nextProbe(kind: String): Probe = {
    val qs = byKind(kind)
    val q = qs(kindCursor(kind) % qs.size)
    kindCursor(kind) += 1
    q
  }

  /** A pass: the fixed probe mix in a seeded order, then one ingest and a
    * compaction check. */
  def pass(p: Int): Double = {
    val order = new scala.util.Random(c.seed * 1000003L + p).shuffle(PassMix)
    val t0 = System.nanoTime()
    order.foreach { kind =>
      val q = nextProbe(kind)
      probeCount += 1
      val q0 = System.nanoTime()
      try {
        val rows = probe(root, q, s"p$p:q$probeCount")
        val ok = shapeOk(q, rows)
        if (!ok) errors += s"probe ${q.kind} #$probeCount returned ${rows.length} rows"
        ops += Op(p, q.kind, "probe", secs(q0), rows.length, ok)
      } catch {
        case e: Throwable =>
          ops += Op(p, q.kind, "probe", secs(q0), -1, ok = false)
          errors += s"probe ${q.kind}: $e"
      }
    }
    val i0 = System.nanoTime()
    val b = batchCursor
    batchCursor += 1
    try {
      require(b < CdcBatches, s"CDC stream exhausted at batch $b")
      ingest(root, b, s"p$p:ingest$b")
      ingestS += secs(i0)
      ops += Op(p, "ingest", "ingest", secs(i0), 0, ok = true)
    } catch {
      case e: Throwable =>
        ops += Op(p, "ingest", "ingest", secs(i0), -1, ok = false)
        errors += s"ingest $b: $e"
    }
    val k0 = System.nanoTime()
    compact(root, s"p$p:compact")
    compactS += secs(k0)
    secs(t0)
  }

  def layerMetrics(m: mutable.LinkedHashMap[String, Double], passS: Double,
                   fromMs: Long, toMs: Long): Unit = {
    val traced = ops.filter(_.pass == Workload.TracedPass)
    runtimeMetrics(m, passS, fromMs, toMs, traced.filter(_.ok).map(_.rows).sum)
    val written = StoreFiles.walk(new File(root)).filter(f => f.inStore && f.mtime >= fromMs)
    m("store.commit_s") = tr.spanS("store.merge")
    m("store.commits") = written.count(f => new File(f.path).getName.startsWith(StoreSink.Manifest + ".v"))
    m("store.bytes_written_mb") = written.map(_.bytes).sum / 1e6
    m("store.files_in_manifest") =
      Seq(textStore(root), vecStore(root)).map(ManifestFiles.count).sum
    m("store.compact_s") = tr.spanS("store.compact")
    m("store.bytes_rewritten_mb") = rewrittenBytes / 1e6
    IndexKinds.foreach { k =>
      val probesK = traced.filter(o => o.kind == "probe" && o.name.startsWith(k))
      val n = math.max(1, probesK.size)
      val counts = tr.total(s"index.probe.$k")
      m(s"index.build_s.$k") = result("build_s").asInstanceOf[collection.Map[String, Double]](k)
      m(s"index.probe_s.$k") = tr.spanS(s"index.probe.$k") / n
      m(s"index.probe_jobs.$k") = counts.jobs.toDouble / n
      m(s"index.refresh_s.$k") = tr.spanS(s"index.refresh.$k")
      val res = probesK.filter(_.ok).map(_.rows).sum
      m(s"index.rows_scanned_per_result.$k") = if (res == 0) 0.0 else counts.inRows.toDouble / res
    }
  }

  private def liveRows(store: String, colName: String): DataFrame =
    spark.read.format("graft.sources.StoreSink").option("path", store).load()
      .select(col("k"), col("grp"), col("amt_cents"), col(colName).as("payload"))

  private def rowBytes(df: DataFrame): Long =
    df.select(sum(lit(16L) + length(col("grp")) + coalesce(length(col("payload")), lit(0)))).head().getLong(0)

  /** Untimed: row counts, BM25 refreshed-vs-rebuilt equality, recall of the
    * approximate indexes against brute force, write and space amplification. */
  def finalChecks(): Unit = {
    val texts = liveRows(textStore(root), "text")
    val vecs = liveRows(vecStore(root), "emb")
    checks("text_rows") = texts.count() == CorpusDocs
    checks("vec_rows") = vecs.count() == VecDocs * VecTokens

    val check = s"${c.work}/check_bm25"
    rm(check)
    TextIndex.buildFromStore(spark, textStore(root), check, attr = true)
    val bmProbes = probes.filter(_.kind.startsWith("bm25")).take(3)
    checks("bm25_refresh_equals_rebuild") = bmProbes.forall { q =>
      val a = if (q.kind == "bm25_attr") Some(q.attr) else None
      val x = TextIndex.probeOr(spark, bm25(root), q.terms, 10, a).collect().toSeq
      val y = TextIndex.probeOr(spark, check, q.terms, 10, a).collect().toSeq
      if (x != y) errors += s"bm25 ${q.terms.mkString(" ")}: refreshed $x rebuilt $y"
      x == y
    }
    rm(check)

    val corpus: Array[(Long, Array[Float])] = vecs.select(col("k"), col("payload")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(',').map(_.toFloat))
    def unit(v: Array[Float]) = { val n = norm(v); v.map(x => (x / n).toFloat) }
    def cos(a: Array[Float], b: Array[Float]): Double = { // of unit vectors
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val unitC = corpus.map { case (k, v) => k -> unit(v) }
    val annQ = probes.filter(_.kind == "ann").take(2)
    val annRecall = annQ.map { q =>
      val got = AnnIndex.probe(spark, annQuery(q.vecs.head), ann(root)).collect().map(_.getLong(1)).toSet
      val u = unit(q.vecs.head)
      val exact = unitC.map { case (k, v) => (k, cos(u, v)) }.sortBy(x => (-x._2, x._1)).take(5).map(_._1).toSet
      (got intersect exact).size / 5.0
    }
    val byDoc = unitC.groupBy(_._1 / 10)
    val msQ = probes.filter(_.kind == "maxsim").take(2)
    val msRecall = msQ.map { q =>
      val got = MaxSimIndex.probe(spark, msQuery(q.vecs), maxsim(root)).collect().map(_.getLong(1)).toSet
      val qs = q.vecs.map(unit)
      val exact = byDoc.toSeq.map { case (d, toks) =>
        (d, qs.map(qv => toks.map(t => cos(qv, t._2)).max).sum)
      }.sortBy(x => (-x._2, x._1)).take(5).map(_._1).toSet
      (got intersect exact).size / 5.0
    }
    val all = annRecall ++ msRecall
    result("recall_at_5") = all.sum / all.size
    result("recall_ann_at_5") = annRecall.sum / annRecall.size
    result("recall_maxsim_at_5") = msRecall.sum / msRecall.size

    val applied = (0 until math.min(batchCursor, CdcBatches))
    def cdc(kind: String, colName: String) =
      if (applied.isEmpty) 0L
      else rowBytes(spark.read.parquet(applied.map(b => f"${c.data}/cdc/$kind-$b%04d.parquet"): _*)
        .withColumnRenamed(colName, "payload"))
    val cdcBytes = cdc("text", "text") + cdc("vec", "emb")
    val timed0 = result("timed_from_ms").asInstanceOf[Long]
    val written = StoreFiles.walk(new File(root)).filter(_.mtime >= timed0).map(_.bytes).sum
    result("write_amp") = if (cdcBytes == 0) 0.0 else written.toDouble / cdcBytes
    val storeBytes = Seq(textStore(root), vecStore(root))
      .map(s => StoreFiles.walk(new File(s)).map(_.bytes).sum).sum
    result("space_amp") = storeBytes.toDouble / (rowBytes(texts) + rowBytes(vecs))
    result("ingest_s") = ingestS
    result("compact_s") = compactS
  }
}

object CorpusServe {
  /** Probe kinds of one pass; a pass runs each entry once. */
  val PassMix = Seq("bm25", "bm25", "bm25_attr", "ann", "ann", "ann_filtered", "maxsim", "maxsim")
  val IndexKinds = Seq("bm25", "ann", "maxsim")
  val IndexMetrics = Seq("build_s", "probe_s", "probe_jobs", "refresh_s", "rows_scanned_per_result")
  val CdcBatches = 20
  val CorpusDocs = 3000L
  val VecDocs = 250L
  val VecTokens = 8L
  val CompactRows = 4000L
  val CompactMaxFiles = 12L
  val CompactMaxOverlapE4 = 40000L
}

/** One entry of the generated probe stream. */
final case class Probe(kind: String, terms: Seq[String], attr: Long, vecs: Seq[Array[Float]])

object Probe {
  def load(path: String): IndexedSeq[Probe] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new File(path))
    def floats(n: com.fasterxml.jackson.databind.JsonNode): Array[Float] =
      n.elements().asScala.map(_.floatValue()).toArray
    root.elements().asScala.map { n =>
      val kind = n.get("kind").asText()
      val terms = Option(n.get("terms")).map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
      val attr = Option(n.get("attr")).map(_.asLong()).getOrElse(0L)
      val vecs = Option(n.get("vec")).map(v => Seq(floats(v)))
        .orElse(Option(n.get("vecs")).map(_.elements().asScala.map(floats).toSeq))
        .getOrElse(Nil)
      Probe(kind, terms, attr, vecs)
    }.toIndexedSeq
  }
}
