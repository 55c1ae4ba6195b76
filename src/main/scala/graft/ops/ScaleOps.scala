package graft.ops

import graft.{Local, Tables}
import graft.GraftSession.withConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-technique operators: the 100 TB mitigation patterns demonstrated as
  * first-class, oracle-checked queries (`BASELINE.json:6` "every operator for
  * 100 TB scale").
  *
  * - `q_skew_salted`: two-phase salted aggregation. A single hot key at
  *   100 TB makes one reducer the straggler; salting spreads phase 1 over
  *   `SALT` subkeys, phase 2 merges the (tiny) partials. Result is provably
  *   identical to the direct groupBy because the money sum is an integer
  *   cents sum (associative, order-free) and counts are associative.
  * - `q_join_bucketed`: co-located join via bucketed tables. Both fact
  *   tables are written bucketed by the join key; the join then reads
  *   bucket-aligned splits and (verified in ScaleOpsSpec) needs NO shuffle
  *   exchange on either side — at 100 TB this converts every repeated
  *   fact-fact join on the same key from a full shuffle into a local merge.
  *   AQE-level mitigations (skew-join split, dynamic coalescing) stay on by
  *   default and are config, not code.
  */
object ScaleOps extends OpModule {

  private val SALT = 8

  /** Runtime-filter confs, scoped with `withConf`. The 10 GB
    * application-side threshold exists to keep the bloom build from taxing
    * small joins; at harness scale it must be lowered or nothing injects. */
  private[graft] val rfConfs = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // injection only fires for PROBABLE SHUFFLE joins: at 100 TB the
    // filtered dim is past broadcast size; at harness scale that state is
    // simulated by disabling size-based broadcast inside this scope
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** With the confs active: lineitem ⋈ (selective orders filter) — Catalyst
    * injects a bloom might_contain predicate on l_orderkey built from the
    * filtered orders side, so the FACT side sheds non-matching rows before
    * the join shuffle (Spark's InjectRuntimeFilter — the built-in form of
    * q_filter_bloom's hand-rolled semi-join pushdown). private[graft] so
    * PlanAuditSpec can inspect the optimized plan under the same confs. */
  private[graft] def runtimeFilterJoin(s: SparkSession, d: String): DataFrame = {
    val sel = Tables.orders(s, d)
      .where(col("o_orderpriority") === "1-URGENT" &&
             col("o_orderdate") >= to_timestamp(lit("1997-01-01")))
      .select(col("o_orderkey"))
    Tables.lineitem(s, d)
      .join(sel.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), Det.moneySum(col("l_extendedprice")).as("cents"))
      .orderBy(col("l_returnflag"))
  }

  /** sfDirs whose bucketed store tables were already written by THIS JVM.
    * The bucketed layout is the persistent store (written once, joined
    * many times — that's its 100 TB point); rebuilding it on every builder
    * call made Bench time the one-off ETL instead of the shuffle-free join. */
  private val bucketedReady = scala.collection.mutable.Set[String]()

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Two-phase aggregation with an explicit salt on the (hot) group key.
    "q_skew_salted" -> ((s, d) => {
      val phase1 = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey") + col("l_linenumber"), lit(SALT)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(Det.moneySum(col("l_extendedprice")).as("part_cents"),
             count(lit(1)).as("part_n"))
      phase1
        .groupBy(col("l_returnflag"))
        .agg(sum(col("part_cents")).as("sum_cents"), sum(col("part_n")).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Shuffle-free fact-fact join over bucketed store tables.
    "q_join_bucketed" -> ((s, d) => {
      val suffix = java.lang.Integer.toHexString(d.hashCode)
      val (ordersT, lineitemT) = (s"orders_bkt_$suffix", s"lineitem_bkt_$suffix")
      if (!bucketedReady.contains(suffix)) {
        // the in-memory catalog forgets tables across JVMs but the warehouse
        // dir persists — drop both sides before recreating
        Seq(ordersT, lineitemT).foreach { t =>
          s.sql(s"DROP TABLE IF EXISTS $t")
          val loc = new org.apache.hadoop.fs.Path(
            s.conf.get("spark.sql.warehouse.dir") + s"/$t")
          loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
        }
        Tables.orders(s, d).write.mode("overwrite")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordersT)
        Tables.lineitem(s, d).write.mode("overwrite")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lineitemT)
        bucketedReady += suffix
      }
      s.table(lineitemT)
        .join(s.table(ordersT), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(Det.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev_cents"),
             count(lit(1)).as("n_items"))
        .orderBy(col("o_orderstatus"))
    }),

    // Count-Min frequency sketch (spark-sketch, built by a distributed
    // partial-merge aggregation): the fixed-size mergeable answer to "how
    // often does key k occur" over a stream/100 TB scan — heavy-hitter
    // detection without a groupBy shuffle. Seeded → deterministic. The CMS
    // contract rides the gate as flags (no underestimates; overestimate
    // ≤ εN), the q_agg_approx_distinct pattern.
    "q_agg_countmin" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_suppkey"))
      val cms = li.stat.countMinSketch(col("l_suppkey"), 0.001, 0.99, 42)
      val bound = math.ceil(0.001 * cms.totalCount()).toLong
      val probes = (1L to 10L).map(k => (k, cms.estimateCount(Long.box(k))))
      val est = s.createDataFrame(probes).toDF("k", "est")
      val exact = li.groupBy(col("l_suppkey").as("k")).agg(count(lit(1)).as("n_exact"))
      est.join(exact, Seq("k"), "left")
        .select(col("k"), coalesce(col("n_exact"), lit(0L)).as("n_exact"),
                (col("est") >= coalesce(col("n_exact"), lit(0L))).as("no_underest"),
                (col("est") <= coalesce(col("n_exact"), lit(0L)) + bound).as("within_bound"))
        .orderBy(col("k"))
    }),

    // The in-memory columnar cache surface (CACHE TABLE → InMemoryRelation):
    // a filtered fact slice cached ONCE and served to two independent
    // aggregations — the interactive/dashboard reuse shape where the same
    // working set answers many queries (vs localCheckpoint, which is
    // per-lineage). Eager cache, uncached in finally so no memory leaks
    // into sibling queries; ScaleOpsSpec asserts the InMemoryRelation serves
    // both branches. At 100 TB the cached slice is the curated working set
    // (storage level MEMORY_AND_DISK spills per executor), never the raw
    // corpus.
    "q_cache_reuse" -> ((s, d) => {
      val v = s"li_cache_${java.lang.Integer.toHexString(d.hashCode)}"
      Tables.lineitem(s, d).where(col("l_quantity") > 25)
        .createOrReplaceTempView(v)
      s.sql(s"CACHE TABLE $v")
      try {
        val byFlag = s.table(v).groupBy(col("l_returnflag").as("k"))
          .agg(count(lit(1)).as("n"), Det.moneySum(col("l_extendedprice")).as("cents"))
          .select(lit("flag").as("dim"), col("k"), col("n"), col("cents"))
        val byStatus = s.table(v).groupBy(col("l_linestatus").as("k"))
          .agg(count(lit(1)).as("n"), Det.moneySum(col("l_extendedprice")).as("cents"))
          .select(lit("status").as("dim"), col("k"), col("n"), col("cents"))
        // materialize before UNCACHE: the driver's action runs later
        Local(byFlag.unionAll(byStatus).orderBy(col("dim"), col("k")), 16).toDF(s)
      } finally {
        s.sql(s"UNCACHE TABLE IF EXISTS $v")
        s.catalog.dropTempView(v) // don't leak the view into the shared session
      }
    }),

    // Misra–Gries heavy hitters over the document token stream via the
    // graft_freq_items TypedImperativeAggregate (functions/FreqItems.scala):
    // O(k) state per group through partial aggregation — heavy-hitter
    // detection whose shuffle carries the sketch, never the token stream.
    // The tracked SET is order-dependent at the margin, so the declared
    // output derives only from the THEOREMS (no overestimate; underestimate
    // ≤ N/(k+1); every item with f > N/(k+1) tracked) evaluated against
    // exact counts — flags the oracle pins TRUE (the q_agg_countmin
    // pattern). Tokens ride as xxhash64 keys (64-bit collision odds are
    // negligible at any realistic vocabulary; a collision could only
    // inflate an estimate, caught by the no_overest flag).
    "q_freq_items" -> ((s, d) => {
      graft.functions.FreqItems.register(s)
      val K = 64
      val tok = Tables.documents(s, d)
        .select(explode(split(trim(lower(col("text"))), " ")).as("t"))
        .where(length(col("t")) >= 1)
      val mg = tok.agg(expr(s"graft_freq_items(xxhash64(t), $K)").as("sk"))
        .select(explode(col("sk")).as("e"))
        .select(col("e.item").as("h"), col("e.est").as("est"))
      val exact = tok.groupBy(col("t")).agg(count(lit(1)).as("n_exact"))
      // N re-aggregates the vocab-sized exact table — the third corpus
      // tokenize the naive form pays is pure waste
      val totals = exact.agg(sum(col("n_exact")).as("n_total"))
      exact.crossJoin(broadcast(totals))
        .where(col("n_exact") * (K + 1) > col("n_total"))
        .withColumn("h", xxhash64(col("t")))
        .join(broadcast(mg), Seq("h"), "left")
        .select(col("t").as("token"), col("n_exact"),
                col("est").isNotNull.as("tracked"),
                (col("est").isNotNull && col("est") <= col("n_exact")).as("no_overest"),
                (coalesce(col("est"), lit(0L)) * (K + 1) >=
                  col("n_exact") * (K + 1) - col("n_total")).as("within_bound"))
        .orderBy(col("token"))
    }),

    // Catalyst-injected runtime bloom filter (InjectRuntimeFilter): the
    // optimizer itself builds a bloom filter from the selective orders side
    // and rewrites the fact scan with might_contain(l_orderkey) — the
    // automatic form of q_filter_bloom. Materialized UNDER the confs (the
    // injection happens at optimization time) and returned as a local
    // frame so the conf scope can't leak into other queries' plans;
    // PlanAuditSpec asserts the bloom actually lands in the plan.
    "q_runtime_filter" -> ((s, d) =>
      withConf(s)(rfConfs: _*) {
        Local(runtimeFilterJoin(s, d), 16).toDF(s)
      }),

    // Bloom-filter runtime pre-filter (spark-sketch): build on the orders
    // side, broadcast, probe the customer side BEFORE the join — the
    // semi-join pushdown that at 100 TB skips scanning/shuffling rows whose
    // key cannot match. Contract flags: zero false negatives (every
    // customer with orders passes) and a bounded false-positive rate on
    // known-absent probe keys.
    "q_filter_bloom" -> ((s, d) => {
      val orders = Tables.orders(s, d)
      // Capacity sized FROM the data (2× distinct keys), never a constant:
      // a fixed 20k saturates at sf1+ (~100k distinct custkeys) and the
      // false-positive rate blows past the asserted bound. The distinct
      // count is one small pre-aggregate — the same pass a production
      // build would spend to size any sketch.
      val expected = math.max(1000L,
        orders.select(col("o_custkey")).distinct().count() * 2)
      val bf = orders.stat.bloomFilter(col("o_custkey"), expected, 0.03)
      val bfB = s.sparkContext.broadcast(bf)
      val probe = udf((k: Long) => bfB.value.mightContain(k))
      val withOrders = Tables.customer(s, d)
        .join(orders.select(col("o_custkey")), col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"))
      val nPresent = withOrders.count()
      val nMissed = withOrders.where(!probe(col("c_custkey"))).count()
      val absent = Tables.customer(s, d).select((col("c_custkey") + 10000000L).as("k"))
      val nAbsent = absent.count()
      val nFp = absent.where(probe(col("k"))).count()
      s.createDataFrame(Seq((nPresent, nMissed == 0, nAbsent, nFp <= (0.09 * nAbsent).toLong)))
        .toDF("n_present", "no_false_negatives", "n_absent_probes", "fp_within_bound")
    }),
  )

  override def oracles: Map[String, String] = Map(
    // identical to an unsalted aggregate — that's the point
    "q_skew_salted" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    // the cache is a perf surface, never semantics
    "q_cache_reuse" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_quantity > 25),
        |f AS (SELECT 'flag' AS dim, l_returnflag AS k, COUNT(*) AS n,
        |        CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |      FROM li GROUP BY l_returnflag),
        |s AS (SELECT 'status' AS dim, l_linestatus AS k, COUNT(*) AS n,
        |        CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |      FROM li GROUP BY l_linestatus)
        |SELECT * FROM f UNION ALL SELECT * FROM s
        |ORDER BY dim, k""".stripMargin,

    // the Misra–Gries guarantees are theorems — the oracle computes the
    // exact heavy-hitter set and pins the contract flags TRUE
    "q_freq_items" ->
      """WITH tk AS (
        |  SELECT UNNEST(STRING_SPLIT(TRIM(LOWER(text)), ' ')) AS t FROM documents),
        |tok AS (SELECT t FROM tk WHERE LENGTH(t) >= 1),
        |ex AS (SELECT t, COUNT(*) AS n_exact FROM tok GROUP BY t),
        |tot AS (SELECT COUNT(*) AS n_total FROM tok)
        |SELECT t AS token, n_exact, TRUE AS tracked,
        |  TRUE AS no_overest, TRUE AS within_bound
        |FROM ex, tot WHERE n_exact * 65 > n_total
        |ORDER BY token""".stripMargin,

    // DuckDB has neither sketch — exact counts + pinned-TRUE contract flags
    // (the q_agg_approx_distinct pattern).
    "q_agg_countmin" ->
      """WITH probes AS (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS k)
        |SELECT CAST(probes.k AS BIGINT) AS k,
        |  COALESCE(e.n_exact, 0) AS n_exact,
        |  TRUE AS no_underest, TRUE AS within_bound
        |FROM probes LEFT JOIN (
        |  SELECT l_suppkey AS k, COUNT(*) AS n_exact FROM lineitem GROUP BY l_suppkey) e
        |  ON probes.k = e.k
        |ORDER BY k""".stripMargin,

    "q_filter_bloom" ->
      """SELECT
        |  (SELECT COUNT(DISTINCT c_custkey) FROM customer
        |   WHERE c_custkey IN (SELECT o_custkey FROM orders)) AS n_present,
        |  TRUE AS no_false_negatives,
        |  (SELECT COUNT(*) FROM customer) AS n_absent_probes,
        |  TRUE AS fp_within_bound""".stripMargin,

    // the bloom filter is a performance rewrite, never a semantics change
    "q_runtime_filter" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
  )
}
