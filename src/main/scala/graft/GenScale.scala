package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Local scale-rehearsal generator (VERDICT r3 #7): builds an sf1-shaped
  * tier by replicating sf0.1 `mult`× with per-replica key offsets, so the
  * 43-query headline bench can be measured at 10× and checked for linear
  * scaling (results recorded in BASELINE.md).
  *
  * Replica 0 is the untouched source, so fixture predicates (`vec_id < 10`,
  * `doc_id < 24`) keep hitting the original rows. Entity keys (custkey,
  * orderkey, suppkey, partkey, event_id, user_id, doc_id, vec_id) shift by
  * r×1e8 per replica — foreign keys shift together, so join fan-outs and
  * per-key densities match the source tier while key cardinality scales
  * linearly, like a real TPC-H sf bump. region/nation stay fixed (dims
  * don't scale with sf). Document text is word-shuffled per replica and
  * embeddings are jittered so the dedup/similarity families see 10× the
  * corpus, not 10 exact copies of it (exact copies would turn every
  * near-dup bucket into a degenerate clique and measure the wrong thing).
  * The jitter uses rand() — this is a perf artifact, regenerated rarely and
  * never oracle-compared; determinism is not a contract here.
  *
  * Not for correctness runs: the driver's tiers stay the only oracle
  * inputs. Usage: runMain graft.GenScale [srcDir] [dstDir] [mult] [skew]
  *
  * The optional 4th arg `skew` builds the ZIPFIAN variant of the tier
  * (VERDICT r4 #4): the uniform replication above preserves per-key
  * densities, but 100 TB reality concentrates — so under `skew`, one hot
  * user_id absorbs ~20% of all events and one hot custkey ~20% of all
  * orders (deterministic pmod selection, no rand). Every key-partitioned
  * operator family (sessions, windows, per-user range joins, custkey
  * aggregations) then sees a single partition holding 20% of the table —
  * the shape AQE skew-split and q_skew_salted exist for. Skew ratios vs
  * the uniform tier are recorded in BASELINE.md; the AQE skew-split plan
  * node itself is asserted in PlanAuditSpec.
  */
object GenScale {

  private val Off = 100000000L

  /** Hot entity for the skewed tier: key 777 exists in every tier's
    * customer/events key range, so FK joins still resolve. */
  private val Hot = 777L

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "target/testdata/sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val skew = args.length > 3 && args(3) == "skew"
    val spark = GraftSession.build("32")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** Cross with replica ids 0..mult-1 and shift the named long keys. */
    def replicate(df: DataFrame, keys: Seq[String], extra: DataFrame => DataFrame = identity): DataFrame = {
      val reps = df.withColumn("r", explode(sequence(lit(0), lit(mult - 1)))).repartition(32)
      val shifted = keys.foldLeft(reps)((d, k) => d.withColumn(k, col(k) + col("r") * Off))
      extra(shifted).drop("r")
    }

    // Single FILE per table (like the driver's tiers): the streaming feed
    // harness globs for a file literally named events.parquet, so a
    // directory-shaped write breaks every s_* op at this tier.
    def write(df: DataFrame, t: String): Unit = {
      val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(s"$dst/_tmp_$t")
      df.repartition(1).write.mode("overwrite").parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"[genscale] no parquet part written under $tmp for $t"))
      val outF = new org.apache.hadoop.fs.Path(s"$dst/$t.parquet")
      fs.delete(outF, true)
      if (!fs.rename(part, outF))
        sys.error(s"[genscale] rename $part -> $outF failed")
      fs.delete(tmp, true)
      println(s"[genscale] $t: ${spark.read.parquet(outF.toString).count()} rows")
    }

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(replicate(read("customer"), Seq("c_custkey")), "customer")
    // s_name digits are regenerated from the shifted key: replicated
    // suppliers must be DISTINCT entities (10× the registry), not 10 records
    // sharing one name — duplicate names collapse every name-derived
    // blocking key (q_er_join) into 10×-sized buckets and measure the wrong
    // thing, exactly like un-jittered embeddings would for the dedup family.
    write(replicate(read("supplier"), Seq("s_suppkey"), d =>
      d.withColumn("s_name",
        when(col("r") === 0, col("s_name"))
          .otherwise(concat(lit("Supplier#"), lpad(col("s_suppkey").cast("string"), 9, "0"))))),
      "supplier")
    write(replicate(read("part"), Seq("p_partkey")), "part")
    write(replicate(read("orders"), Seq("o_orderkey", "o_custkey"), d =>
      if (!skew) d
      else d.withColumn("o_custkey",
        when(pmod(col("o_orderkey"), lit(5)) === 0, lit(Hot)).otherwise(col("o_custkey")))),
      "orders")
    write(replicate(read("lineitem"), Seq("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    write(replicate(read("events"), Seq("event_id", "user_id"), d =>
      if (!skew) d
      else d.withColumn("user_id",
        when(pmod(col("event_id"), lit(5)) === 0, lit(Hot)).otherwise(col("user_id")))),
      "events")
    // Replica text = word-shuffled AND ~30% of words remapped to a
    // replica-unique token (deterministic per (word, replica), so two docs
    // that were near-dups stay near-dups WITHIN their replica). Shuffling
    // alone preserves the word multiset, which manufactures a quadratic
    // mass of J≈0.1 cross-replica pairs that no banded-MinHash S-curve can
    // fully suppress (measured: q_dedup_ngram candidates 36× at 10× with
    // constant output); a real 10× corpus grows vocabulary (Heaps' law) and
    // its weak-similarity mass ~linearly, which the remap restores.
    write(replicate(read("documents"), Seq("doc_id"), d =>
      d.withColumn("text",
        when(col("r") === 0, col("text"))
          .otherwise(array_join(transform(shuffle(split(trim(col("text")), " ")),
            w => when(pmod(xxhash64(w, col("r")), lit(10)) < 3,
                      concat(w, lit("_"), col("r"))).otherwise(w)), " ")))),
      "documents")
    write(replicate(read("embeddings"), Seq("vec_id"), d =>
      d.withColumn("embedding",
        when(col("r") === 0, col("embedding"))
          .otherwise(transform(col("embedding"),
            x => (x + (rand() - 0.5) * 0.1).cast("float"))))),
      "embeddings")
    spark.stop()
  }
}
