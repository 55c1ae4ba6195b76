package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DSv2 connector reporting its PHYSICAL LAYOUT to the planner
  * (`SupportsReportPartitioning` → `KeyGroupedPartitioning`) — the
  * storage-partitioned-join contract: each input partition carries its
  * partition KEY (`HasPartitionKey`), so when two tables partitioned on the
  * same key join on it, Spark aligns the key groups directly and plans NO
  * shuffle exchange on either side (`spark.sql.sources.v2.bucketing.enabled`;
  * BucketSourceSpec asserts the exchange-free plan, `q_join_spj` oracle-pins
  * the result). This is the Iceberg/Delta bucketed-table join shape on a
  * connector we own — at 100 TB it removes BOTH full-table shuffles from
  * every fact-fact join that shares the store's partitioning, the DSv2
  * analogue of `q_join_bucketed`'s session-catalog bucketing.
  *
  * Deterministic generator (closed forms mirrored by the oracle): `rows`
  * rows with id ∈ [0, rows), grp = 'g' + (id % groups), amt = id·13 % 1000;
  * partition b holds exactly the rows with id ≡ b (mod groups).
  */
class BucketSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BucketSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new BucketTable(properties.get("rows").toLong, properties.get("groups").toInt)
}

object BucketSource {
  val schema: StructType = StructType(Seq(
    StructField("grp", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("amt", LongType, nullable = false)))

  def amtOf(id: Long): Long = id * 13 % 1000
}

private class BucketTable(rows: Long, groups: Int) extends Table with SupportsRead {
  override def name(): String = s"graft_bucket($rows,$groups)"
  override def schema(): StructType = BucketSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BucketScanBuilder(rows, groups)
}

/** V2-PREDICATE pushdown (SupportsPushDownV2Filters — the successor API to
  * the V1 Filter pushdown RangeSource demonstrates; JDBC is its only
  * in-tree user): `grp = 'gN'` / `grp IN (...)` conjuncts prune bucket
  * PLANNING, and because bucket b holds EXACTLY the rows with grp = 'g'+b,
  * the pruning fully satisfies the predicate — the conjunct is consumed
  * (not returned as a residual) and the Filter operator DISAPPEARS from
  * the plan, not just the I/O. A value outside the bucket domain plans
  * ZERO partitions. Anything else (id/amt conjuncts, non-equality forms)
  * comes back as a post-scan residual, planning untouched. */
private class BucketScanBuilder(rows: Long, groups: Int)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters {

  import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private var pushed: Array[Predicate] = Array.empty
  private var kept: Option[Set[Int]] = None

  private def isGrp(e: Expression): Boolean = e match {
    case n: NamedReference => n.fieldNames().mkString(".").equalsIgnoreCase("grp")
    case _ => false
  }

  private def bucketOf(e: Expression): Option[Int] = e match {
    case l: Literal[_] if l.dataType() == StringType =>
      val s = String.valueOf(l.value())
      // a non-bucket value maps to the EMPTY set, expressed as -1
      if (s.matches("g\\d+") && s.drop(1).toInt < groups) Some(s.drop(1).toInt)
      else Some(-1)
    case _ => None
  }

  /** `grp = lit` / `lit = grp` / `grp IN (lits)` → the matching bucket set. */
  private def translate(p: Predicate): Option[Set[Int]] = p.name() match {
    case "=" => p.children() match {
      case Array(a, b) if isGrp(a) => bucketOf(b).map(x => Set(x).filter(_ >= 0))
      case Array(a, b) if isGrp(b) => bucketOf(a).map(x => Set(x).filter(_ >= 0))
      case _ => None
    }
    case "IN" => p.children() match {
      case Array(a, rest @ _*) if isGrp(a) && rest.nonEmpty =>
        val bs = rest.map(bucketOf)
        if (bs.exists(_.isEmpty)) None
        else Some(bs.flatten.filter(_ >= 0).toSet)
      case _ => None
    }
    case _ => None
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val translated = predicates.map(p => p -> translate(p))
    val handled = translated.collect { case (p, Some(_)) => p }
    val sets = translated.collect { case (_, Some(s)) => s }
    if (sets.nonEmpty) kept = Some(sets.reduce(_ intersect _))
    pushed = handled
    // bucket membership is EXACT — handled conjuncts need no re-evaluation
    translated.collect { case (p, None) => p }
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def build(): Scan = new BucketScan(rows, groups, kept)
}

private class BucketScan(rows: Long, groups: Int,
                         kept: Option[Set[Int]] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics {

  private def planned: Seq[Int] =
    (0 until groups).filter(b => kept.forall(_.contains(b)))

  override def readSchema(): StructType = BucketSource.schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftBucketScan(rows=$rows, groups=$groups" +
      kept.map(k => s", buckets=${k.toSeq.sorted.mkString("{", ",", "}")}").getOrElse("") + ")"

  /** Closed-form stats (grp ~8 B + id 8 B + amt 8 B): the dim side of the
    * SPJ family stays under the broadcast threshold by REPORTED size, so
    * join planning over `graft.bucket_*` names is stats-driven, never
    * defaultSizeInBytes-blind (q_join_spj disables the threshold to force
    * the exchange-free plan; everywhere else the stats decide). POST-
    * pruning: rows scale with the planned bucket fraction. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val r = rows * planned.size / groups
    override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(r * 24L)
    override def numRows(): util.OptionalLong = util.OptionalLong.of(r)
  }

  /** The layout contract: clustered by identity(grp), one key group per
    * PLANNED bucket (the report must match planInputPartitions exactly). */
  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(Array(Expressions.identity("grp")), planned.size)

  override def planInputPartitions(): Array[InputPartition] =
    planned.map(b => BucketPartition(b, rows, groups): InputPartition).toArray

  override def supportedCustomMetrics(): Array[CustomMetric] = ScanMetrics.defs(
    "buckets" -> "bucket: buckets in the table",
    "plannedBuckets" -> "bucket: buckets planned after predicate pruning")

  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    ScanMetrics.values("buckets" -> groups.toLong, "plannedBuckets" -> planned.size.toLong)

  override def createReaderFactory(): PartitionReaderFactory = BucketReaderFactory()
}

/** One bucket = one partition; partitionKey() is what lets Spark align the
  * two sides of a storage-partitioned join group by group. */
private case class BucketPartition(bucket: Int, rows: Long, groups: Int)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    InternalRow(UTF8String.fromString("g" + bucket))
}

private case class BucketReaderFactory() extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BucketPartition]
    val grp = UTF8String.fromString("g" + p.bucket)
    new PartitionReader[InternalRow] {
      private var cur = p.bucket.toLong - p.groups
      override def next(): Boolean = { cur += p.groups; cur < p.rows }
      override def get(): InternalRow =
        InternalRow(grp, cur, BucketSource.amtOf(cur))
      override def close(): Unit = ()
    }
  }
}
