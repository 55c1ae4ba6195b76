package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, ReadAllAvailable, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Custom DataSourceV2 connector — the seventh custom-Catalyst kind: the
  * CONNECTOR API an ETL engine lives on. A deterministic keyed generator
  * (`id` in [start, end); `val`/`tag` closed-form functions of id, so DuckDB
  * re-derives every row) that implements the contracts that matter at
  * 100 TB:
  *
  *  - `SupportsPushDownFilters`: >=/>/<=/<(=) predicates on `id` TIGHTEN THE
  *    SCAN BOUNDS — partitions outside the residual range are never planned
  *    and their rows never materialize (the DSv2 analogue of parquet
  *    row-group pruning). Pushed conjuncts are consumed (removed from the
  *    Spark-side filter); unsupported ones are returned as postScanFilters.
  *  - `SupportsPushDownRequiredColumns`: the reader materializes only the
  *    pruned schema — a projection that drops `tag` never builds its
  *    UTF8String.
  *  - `SupportsPushDownLimit` / `SupportsPushDownTopN`: LIMIT (and
  *    ORDER BY id ... LIMIT) shrink the PLANNED range — rows are generated
  *    in id order, so the first-n / last-n rows live in a closed-form
  *    sub-range and the other slices are never planned. TopN is declared
  *    partially pushed (Spark re-sorts the bounded remainder) — the
  *    correct conservative contract when partitions are read unordered.
  *  - `SupportsReportStatistics`: the scan reports POST-PUSHDOWN row count
  *    and byte size, so CBO/broadcast decisions over this source are
  *    stats-driven (a filtered slice under the broadcast threshold plans a
  *    BroadcastHashJoin instead of shuffling both sides — RangeSourceSpec
  *    pins the flip).
  *  - `MicroBatchStream` (MICRO_BATCH_READ): the same table as an offset-
  *    tracked incremental feed — rows "arrive" in chunks revealed by
  *    `latestOffset`, each micro-batch plans exactly the [start, end)
  *    offset sub-range, and a restarted query resumes from the committed
  *    offset in the checkpoint (never re-reads, never skips). The arrival
  *    state lives OUTSIDE the stream instance (keyed by `feedId`), modeling
  *    the external log a real connector tails.
  *
  * The scan splits the residual range into fixed-width slices (one input
  * partition each), so parallelism scales with the data actually read, not
  * the table's declared extent. `Scan.description()` exposes the residual
  * bounds; RangeSourceSpec asserts pushdown observably (bounds in the plan,
  * partition count, row counts), and `src_dsv2` oracle-pins row contents.
  */
class RangeSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RangeSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new RangeTable(properties.get("start").toLong, properties.get("end").toLong)
}

object RangeSource {
  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("val", DoubleType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  /** Closed-form row functions (mirrored by the DuckDB oracle). */
  def valOf(id: Long): Double = (id * 7919 % 100000) / 100.0

  /** The pushed-sample keep rule: a 31-bit LCG of (id, seed) under
    * M = 2^31−1, kept when the hash falls in [lower·M, upper·M). Pure and
    * integer-exact, so the oracle reproduces the EXACT sampled row set
    * from the same literals (products stay < 2^62 — no SQL overflow). */
  def sampleKeep(id: Long, lower: Double, upper: Double, seed: Long): Boolean = {
    val M = 2147483647L
    val s = ((seed % M) + M) % M
    val u = ((id % M) * 1103515245L + s) % M
    u >= (lower * M).toLong && u < (upper * M).toLong
  }
  def tagOf(id: Long): String = "abcd".charAt((id % 4).toInt).toString

  /** Rows per input partition slice. */
  val SliceRows = 25000L

  /** Estimated on-wire row width for [[RangeScan.estimateStatistics]]:
    * id 8 B + val 8 B + tag (single ASCII char as UTF8String) ~8 B. */
  val RowBytes = 24L

  // ------------------------------------------------------ streaming arrival
  /** External arrival state per feedId: how many rows (as an absolute id
    * high-water mark) have "arrived" — the stand-in for the upstream log a
    * real feed connector tails. Persists across stream instances (runs) in
    * this JVM, so a restarted query observes the same external world. */
  private val feedArrived = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private[sources] def arrivedUpTo(feedId: String, start: Long): Long = {
    val v = feedArrived.get(feedId)
    if (v == null) start else math.max(v, start)
  }

  private[sources] def reveal(feedId: String, start: Long, end: Long,
                              chunk: Long): Long = {
    val next = math.min(end, arrivedUpTo(feedId, start) + chunk)
    feedArrived.put(feedId, next)
    next
  }

  /** Reset a feed's arrival state so a fresh query streams the chunked
    * arrival trajectory deterministically from the beginning. */
  def resetFeed(feedId: String): Unit = feedArrived.remove(feedId)
}

private class RangeTable(start: Long, end: Long) extends Table with SupportsRead {
  override def name(): String = s"graft_range($start,$end)"
  override def schema(): StructType = RangeSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RangeScanBuilder(start, end, options)
}

private class RangeScanBuilder(start: Long, end: Long,
                               options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownOffset with SupportsPushDownTableSample
    with SupportsPushDownJoin {

  private var lo = start
  private var hi = end
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = RangeSource.schema
  private var aggFuncs: Seq[String] = Nil // count | min | max, in push order
  private var pushedLimit: Option[Int] = None
  private var pushedOffset = 0
  private var topNDesc = false
  private var sample: Option[(Double, Double, Long)] = None
  /** When set, this builder carries a PUSHED SELF-SOURCE JOIN: the output
    * columns (possibly de-duplicated by Spark-generated aliases) mapped to
    * their base generator column. */
  private var joinedCols: Option[Seq[(String, String)]] = None

  /** JOIN PUSHDOWN ([[SupportsPushDownJoin]], the newest V2 pushdown
    * surface — `spark.sql.optimizer.datasourceV2JoinPushdown`): an
    * id-equality INNER join of two range scans collapses into ONE scan of
    * the residual ranges' INTERSECTION — for a keyed generator, equi-join
    * IS range intersection, so the join operator, both its exchanges, and
    * one whole scan vanish from the plan (the JDBC-connector "run the join
    * in the database" contract, answered closed-form here). Runs AFTER
    * filter pushdown — each side's bounds are already its residual range —
    * and BEFORE column pruning; Spark aliases duplicated output names and
    * hands the join condition over those output names. Declines anything
    * but a plain (no sample/limit/offset/agg, not already joined) INNER
    * equi-join on id — a declined pushdown is an ordinary Spark join,
    * never a wrong result. */
  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other.isInstanceOf[RangeScanBuilder]

  private def isPlainForJoin: Boolean =
    joinedCols.isEmpty && sample.isEmpty && pushedLimit.isEmpty &&
      pushedOffset == 0 && aggFuncs.isEmpty

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightReq: Array[SupportsPushDownJoin.ColumnWithAlias],
      cond: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    if (joinType != org.apache.spark.sql.connector.join.JoinType.INNER_JOIN)
      return false
    if (!other.isInstanceOf[RangeScanBuilder]) return false
    val o = other.asInstanceOf[RangeScanBuilder]
    if (!isPlainForJoin || !o.isPlainForJoin) return false
    def outName(c: SupportsPushDownJoin.ColumnWithAlias): String =
      Option(c.alias).getOrElse(c.colName)
    val lid = leftReq.find(_.colName == "id").map(outName)
    val rid = rightReq.find(_.colName == "id").map(outName)
    if (lid.isEmpty || rid.isEmpty) return false
    // the WHOLE condition must be exactly `left.id = right.id` over the
    // (aliased) output names — anything else stays a Spark-side join
    val condRefs: Option[Set[String]] = cond match {
      case p if p.name() == "=" && p.children().length == 2 =>
        val ns = p.children().toSeq.collect {
          case r: org.apache.spark.sql.connector.expressions.NamedReference
              if r.fieldNames().length == 1 => r.fieldNames()(0)
        }
        if (ns.length == 2) Some(ns.toSet) else None
      case _ => None
    }
    if (!condRefs.contains(Set(lid.get, rid.get))) return false
    // inner equi-join of two deterministic generators = range intersection
    lo = math.max(lo, o.lo)
    hi = math.min(hi, o.hi)
    val colsOut = (leftReq.toSeq ++ rightReq.toSeq)
      .map(c => (outName(c), c.colName))
    joinedCols = Some(colsOut)
    required = StructType(colsOut.map { case (out, col) =>
      StructField(out, RangeSource.schema(col).dataType, nullable = false)
    })
    true
  }

  /** TABLESAMPLE pushdown: once pushed, Spark REMOVES its Sample operator
    * and the source owns the randomness — so the sample must be a pure,
    * reproducible function of (id, seed), which is exactly what makes it
    * oracle-able: the LCG keep-rule ([[RangeSource.sampleKeep]]) is
    * serialized into the oracle SQL as literals, the same seed-literal
    * technique as every LSH family here. Bernoulli only (withReplacement
    * declines — a with-replacement sample is not a per-row predicate), and
    * composition guards below keep the closed-form aggregate / pagination
    * arithmetic from firing on a sampled scan, where it would be wrong. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
                               withReplacement: Boolean, seed: Long): Boolean =
    if (withReplacement) false
    else { sample = Some((lowerBound, upperBound, seed)); true }

  // SQL integer literals arrive as Int, long ones as Long — accept both
  private object L {
    def unapply(a: Any): Option[Long] = a match {
      case i: Int  => Some(i.toLong)
      case l: Long => Some(l)
      case _       => None
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (consumed, rest) = filters.partition {
      case GreaterThan(a, L(v)) if a == "id"        => lo = math.max(lo, v + 1); true
      case GreaterThanOrEqual(a, L(v)) if a == "id" => lo = math.max(lo, v); true
      case LessThan(a, L(v)) if a == "id"           => hi = math.min(hi, v); true
      case LessThanOrEqual(a, L(v)) if a == "id"    => hi = math.min(hi, v + 1); true
      case EqualTo(a, L(v)) if a == "id" =>
        lo = math.max(lo, v); hi = math.min(hi, v + 1); true
      case _ => false
    }
    pushed = consumed
    rest // everything not consumed stays a Spark-side post-scan filter
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** LIMIT pushdown: rows generate in id order, so the first n rows of the
    * residual range are exactly [lo, lo+n) — the scan plans only that
    * sub-range (Spark only pushes a limit when every intervening filter was
    * itself pushed, so the cap is sound). isPartiallyPushed stays at its
    * default (true): Spark keeps its own limit on top, which costs nothing
    * on an already-bounded scan. */
  override def pushLimit(limit: Int): Boolean = {
    if (sample.isDefined) return false // prefix arithmetic invalid post-sample
    pushedLimit = Some(limit)
    true
  }

  /** ORDER BY id [ASC|DESC] LIMIT n: the top-n rows live in a closed-form
    * prefix/suffix of the residual range — plan only that sub-range and let
    * Spark re-sort the ≤ n survivors (partial push: input partitions are
    * read unordered, so claiming a full push would be wrong the moment the
    * bound spans two slices). Any other sort key declines. */
  override def pushTopN(orders: Array[SortOrder], limit: Int): Boolean = {
    if (sample.isDefined) return false
    if (orders.length != 1) return false
    val o = orders(0)
    val onId = o.expression().toString.replace("`", "") == "id"
    if (!onId) return false
    pushedLimit = Some(limit)
    topNDesc = o.direction() == SortDirection.DESCENDING
    true
  }

  override def isPartiallyPushed: Boolean = true

  /** OFFSET pushdown (the pagination family's third member): skip the
    * first m rows of the (id-ordered) residual range — the planned range
    * starts at lo+m. Declined under a DESC top-n (the suffix arithmetic
    * composes differently; Spark keeps its own offset, still correct). */
  override def pushOffset(offset: Int): Boolean =
    if (topNDesc) false
    else { pushedOffset = offset; true }

  /** Aggregate pushdown (PARTIAL contract — supportCompletePushDown stays
    * false): COUNT(*)/MIN(id)/MAX(id) with no GROUP BY compute CLOSED-FORM
    * per partition slice (count = hi−lo, min = lo, max = hi−1), so the
    * scan returns one row per slice and Spark's final aggregation merges
    * them — rows never materialize at all. Called after pushFilters, so
    * the slices are already the residual range. Anything else declines
    * and falls back to the row scan. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    if (sample.isDefined) return false // count = hi-lo is wrong on a sample
    if (agg.groupByExpressions.nonEmpty) return false
    def idRef(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
      e.toString.replace("`", "") == "id"
    val fs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar           => Some("count")
      case m: Min if idRef(m.column) => Some("min")
      case m: Max if idRef(m.column) => Some("max")
      case _ => None
    }
    if (fs.contains(None) || fs.isEmpty) false
    else { aggFuncs = fs.flatten; true }
  }

  override def build(): Scan =
    if (aggFuncs.nonEmpty) new RangeAggScan(lo, hi, aggFuncs)
    else {
      // apply the pushed offset + limit/top-n bounds to the planned range:
      // Spark pushes the limit BEFORE the offset and the pushed limit
      // covers offset+limit rows, so the planned window is
      // [lo+offset, lo+limit) — the offset eats into the limit's prefix
      val (blo, bhi) = pushedLimit match {
        case Some(n) if topNDesc => (math.max(lo, hi - n), hi)
        case Some(n) => (math.min(hi, lo + pushedOffset), math.min(hi, lo + n))
        case None    => (math.min(hi, lo + pushedOffset), hi)
      }
      new RangeScan(blo, bhi, required, pushedLimit, topNDesc, options, sample,
        joinedCols.map(_.toMap))
    }
}

/** Pre-aggregated scan: one row per slice carrying the pushed aggregates. */
private class RangeAggScan(lo: Long, hi: Long, funcs: Seq[String])
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(funcs.zipWithIndex.map { case (f, i) =>
      StructField(s"${f}_$i", LongType, nullable = false)
    })
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftRangeScan[$lo, $hi) agg=${funcs.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val n = ((hi - lo + RangeSource.SliceRows - 1) / RangeSource.SliceRows).toInt
    (0 until n).map { i =>
      val s = lo + i * RangeSource.SliceRows
      RangePartition(s, math.min(s + RangeSource.SliceRows, hi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    RangeAggReaderFactory(funcs)
}

/** Standalone (serializable) factory — an inner anonymous class would drag
  * the non-serializable Scan into the task closure. */
private case class RangeAggReaderFactory(funcs: Seq[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RangePartition]
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(funcs.map {
        case "count" => p.hi - p.lo
        case "min"   => p.lo
        case "max"   => p.hi - 1
      })
      override def close(): Unit = ()
    }
  }
}

/** Row scan. [[SupportsRuntimeFiltering]] is the third pushdown contract —
  * dynamic partition pruning INTO the source: when this scan joins a dim
  * whose selective filter Spark can only evaluate at runtime, the executed
  * plan carries a `dynamicpruning` In-subquery on `id`, and just before
  * execution Spark hands the realized key set to [[filter]]; partition
  * planning then drops every slice containing none of the keys. At 100 TB
  * this is the difference between scanning the fact table's declared extent
  * and scanning only the slices the dim actually references — without the
  * query author writing any bound. */
private class RangeScan(lo: Long, hi: Long, required: StructType,
                        limit: Option[Int], topNDesc: Boolean,
                        options: CaseInsensitiveStringMap,
                        sample: Option[(Double, Double, Long)] = None,
                        joinedColOf: Option[Map[String, String]] = None)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  /** Slice indices (relative to lo) referenced by a runtime In-filter;
    * None until/unless a runtime filter arrives. */
  @volatile private var keepSlices: Option[Set[Long]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("id"))

  override def filter(filters: Array[Filter]): Unit = filters.foreach {
    case In(a, vs) if a == "id" =>
      val ids = vs.collect {
        case i: java.lang.Integer => i.longValue()
        case l: java.lang.Long    => l.longValue()
      }.filter(v => v >= lo && v < hi)
      // O(|keys|): bucket each key to its slice — never a per-slice scan
      keepSlices = Some(ids.map(v => (v - lo) / RangeSource.SliceRows).toSet)
    case _ => () // unsupported runtime predicates are simply not narrowed by
  }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val lim = limit.map(n => s" limit=$n${if (topNDesc) " desc" else ""}").getOrElse("")
    val smp = sample.map { case (l, u, s) => s" sample=[$l,$u)@$s" }.getOrElse("")
    val jn = if (joinedColOf.isDefined) " pushedJoin=id-intersect" else ""
    s"GraftRangeScan[$lo, $hi)$lim$smp$jn cols=${required.fieldNames.mkString(",")}"
  }

  /** Post-pushdown stats: rows = the residual (and limit-bounded) range,
    * scaled by any pushed sample fraction, so the planner's broadcast
    * arithmetic sees what the scan will actually produce, not the declared
    * extent. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val frac = sample.map { case (l, u, _) => u - l }.getOrElse(1.0)
    private val rows = (math.max(0L, hi - lo) * frac).toLong
    override def sizeInBytes(): util.OptionalLong =
      util.OptionalLong.of(math.max(1L, rows * RangeSource.RowBytes))
    override def numRows(): util.OptionalLong = util.OptionalLong.of(rows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    if (hi <= lo) return Array.empty
    val n = ((hi - lo + RangeSource.SliceRows - 1) / RangeSource.SliceRows).toInt
    val all = (0 until n).map { i =>
      val s = lo + i * RangeSource.SliceRows
      RangePartition(s, math.min(s + RangeSource.SliceRows, hi)): InputPartition
    }
    val kept = keepSlices.fold(all)(keep => all.zipWithIndex.collect {
      case (p, i) if keep.contains(i.toLong) => p
    })
    sliceCounts = Seq("slices" -> n.toLong, "plannedSlices" -> kept.length.toLong)
    kept.toArray
  }

  /** The last planning's (slices in the range, slices a runtime filter
    * kept), reported as driver metrics. */
  @volatile private var sliceCounts: Seq[(String, Long)] = Nil

  override def supportedCustomMetrics(): Array[CustomMetric] = ScanMetrics.defs(
    "slices" -> "range: slices in the range",
    "plannedSlices" -> "range: slices planned after runtime filtering")

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    ScanMetrics.values(sliceCounts: _*)

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(required, sample, joinedColOf)

  /** DSv2 streaming read (MICRO_BATCH_READ): the pruned schema and pushed
    * bounds carry into the stream — each micro-batch reads the offset
    * sub-range through the same reader factory as the batch path. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    val feedId = Option(options.get("feedId")).getOrElse(s"range-$lo-$hi")
    val chunk = Option(options.get("chunkRows")).map(_.toLong)
      .getOrElse(RangeSource.SliceRows)
    val reveals = Option(options.get("revealsPerRun")).map(_.toInt)
      .getOrElse(Int.MaxValue)
    val maxRows = Option(options.get("maxRowsPerTrigger")).map(_.toLong)
    // the pushed TABLESAMPLE must ride into the stream: Spark removed its
    // Sample operator at pushdown time, so a reader factory built without
    // the sample predicate would return UNSAMPLED rows from every batch
    new RangeMicroBatchStream(lo, hi, required, feedId, chunk, reveals, maxRows,
      sample)
  }
}

/** Monotone row-count offset (absolute id high-water mark). */
private case class RangeStreamOffset(pos: Long) extends StreamOffset {
  override def json(): String = pos.toString
}

/** Offset-tracked incremental read over the range "log". `latestOffset`
  * reveals up to `chunk` more rows per call (capped at `revealsPerRun`
  * calls per stream instance — the external world only produces so much
  * during one run; the rest arrives "between" runs), so one query executes
  * as ceil(range/chunk) micro-batches. Restart: Spark restores the last
  * committed offset from the checkpoint and plans [committed, available) —
  * the run's first progress `startOffset` shows no row is re-read or
  * skipped across the restart.
  *
  * ADMISSION CONTROL ([[SupportsAdmissionControl]]): `maxRowsPerTrigger`
  * caps each micro-batch's admitted offset range below what has arrived —
  * the backpressure knob every production tail needs (a restart after
  * downtime must NOT take the whole backlog as one giant batch).
  * [[SupportsTriggerAvailableNow]]: AvailableNow snapshots the full extent
  * as the run's END GOAL and drains it in admission-bounded batches, then
  * stops — the batch-over-streaming backfill contract, through the same
  * offset arithmetic. */
private class RangeMicroBatchStream(lo: Long, hi: Long, required: StructType,
                                    feedId: String, chunk: Long, revealsPerRun: Int,
                                    maxRowsPerTrigger: Option[Long],
                                    sample: Option[(Double, Double, Long)] = None)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private var reveals = 0
  private var availableNowGoal: Option[Long] = None

  override def initialOffset(): StreamOffset = RangeStreamOffset(lo)

  /** What has arrived, advancing the simulated external log within this
    * run's reveal budget. */
  private def arrivedNow(): Long =
    availableNowGoal.getOrElse {
      if (reveals < revealsPerRun) {
        reveals += 1
        RangeSource.reveal(feedId, lo, hi, chunk)
      } else RangeSource.arrivedUpTo(feedId, lo)
    }

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  /** AvailableNow contract: everything in the table is the target of THIS
    * run (the external log is treated as fully landed), drained in
    * admission-bounded batches. */
  override def prepareForTriggerAvailableNow(): Unit = {
    RangeSource.reveal(feedId, lo, hi, hi - lo)
    availableNowGoal = Some(hi)
  }

  private def admit(start: Long, arrived: Long, limit: ReadLimit): Long = limit match {
    case r: ReadMaxRows => math.min(arrived, start + r.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.foldLeft(arrived)((acc, l) => math.min(acc, admit(start, arrived, l)))
    case _: ReadAllAvailable => arrived
    case _ => arrived
  }

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    val s = start.asInstanceOf[RangeStreamOffset].pos
    RangeStreamOffset(admit(s, arrivedNow(), limit))
  }

  override def reportLatestOffset(): StreamOffset =
    RangeStreamOffset(RangeSource.arrivedUpTo(feedId, lo))

  override def latestOffset(): StreamOffset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): StreamOffset =
    RangeStreamOffset(json.trim.toLong)

  override def commit(end: StreamOffset): Unit = () // external log retains all

  override def stop(): Unit = ()

  override def planInputPartitions(start: StreamOffset, end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[RangeStreamOffset].pos
    val e = end.asInstanceOf[RangeStreamOffset].pos
    if (e <= s) return Array.empty
    val n = ((e - s + RangeSource.SliceRows - 1) / RangeSource.SliceRows).toInt
    (0 until n).map { i =>
      val a = s + i * RangeSource.SliceRows
      RangePartition(a, math.min(a + RangeSource.SliceRows, e)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeReaderFactory(required, sample)
}

private case class RangePartition(lo: Long, hi: Long) extends InputPartition

private class RangeReaderFactory(required: StructType,
                                 sample: Option[(Double, Double, Long)] = None,
                                 joinedColOf: Option[Map[String, String]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RangePartition]
    // resolve projection ONCE per partition, not per row; a pushed join's
    // aliased output names resolve to their base generator column (both
    // join sides generate the same functions of id, so side is irrelevant)
    val cols: Array[Long => Any] = required.fieldNames.map { n =>
      joinedColOf.flatMap(_.get(n)).getOrElse(n) match {
        case "id"  => (id: Long) => id
        case "val" => (id: Long) => RangeSource.valOf(id)
        case "tag" => (id: Long) => UTF8String.fromString(RangeSource.tagOf(id))
      }
    }
    new PartitionReader[InternalRow] {
      private var cur = p.lo - 1
      override def next(): Boolean = {
        cur += 1
        sample match {
          case Some((l, u, s)) =>
            while (cur < p.hi && !RangeSource.sampleKeep(cur, l, u, s)) cur += 1
          case None => ()
        }
        cur < p.hi
      }
      override def get(): InternalRow = InternalRow.fromSeq(cols.map(_(cur)).toSeq)
      override def close(): Unit = ()
    }
  }
}
