package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A bounded driver-side result: rows together with their schema.
  *
  * `Local(df, maxRows)` runs `df`'s own plan once and throws when more than
  * `maxRows` rows come back. The length is checked after the collect rather
  * than through a `limit`, because a `CollectLimitExec` runs `executeTake`,
  * which can scale up over several jobs. Extra driver-side rows (flag rows,
  * counters) are appended with `++`, and `toDF` turns the rows back into a
  * frame, e.g. to hand a result out of a conf scope or a probe. */
final case class Local(schema: StructType, rows: Seq[Row]) {
  def ++(more: Seq[Row]): Local = copy(rows = rows ++ more)

  def toDF(s: SparkSession): DataFrame = {
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }
}

object Local {
  def apply(df: DataFrame, maxRows: Long): Local = {
    val rows = df.collect()
    if (rows.length > maxRows)
      throw new IllegalStateException(
        s"collect bound exceeded: ${rows.length} rows > bound $maxRows")
    Local(df.schema, scala.collection.immutable.ArraySeq.unsafeWrapArray(rows))
  }
}
