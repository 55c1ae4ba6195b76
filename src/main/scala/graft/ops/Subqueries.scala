package graft.ops

import graft.{Local, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Subquery and reshaping operators — exercises Catalyst's subquery
  * decorrelation (`RewriteCorrelatedScalarSubquery`, `RewritePredicateSubquery`
  * → semi joins) plus pivot/unpivot reshaping.
  *
  * Scale posture: the correlated scalar subquery decorrelates into one
  * aggregate + one join on the correlation key (verified: no per-row
  * re-execution); IN-subqueries plan as left-semi joins. Pivot with an
  * explicit value list is a single hash aggregation (no extra pass to
  * discover pivot values — always pass the list at scale).
  */
object Subqueries extends OpModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Correlated scalar subquery: orders above their customer's own average.
    // (The avg is a filter threshold, not an output — a boundary flip would
    // need an order within ~1e-9 of its customer's mean; accepted risk D1.)
    "q_subquery_scalar" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_sq_v")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice
              |FROM orders_sq_v o
              |WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice)
              |                            FROM orders_sq_v o2
              |                            WHERE o2.o_custkey = o.o_custkey)
              |ORDER BY o_orderkey""".stripMargin)
    }),

    "q_subquery_in" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_sqin_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_sqin_v")
      s.sql("""SELECT c_custkey, c_name FROM customer_sqin_v
              |WHERE c_custkey IN (SELECT o_custkey FROM orders_sqin_v
              |                    WHERE o_totalprice > 250000)
              |ORDER BY c_custkey""".stripMargin)
    }),

    // Pivot order counts: status values passed explicitly (single agg pass).
    "q_pivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .count()
        .select(col("o_orderpriority"),
                coalesce(col("F"), lit(0L)).as("f_cnt"),
                coalesce(col("O"), lit(0L)).as("o_cnt"),
                coalesce(col("P"), lit(0L)).as("p_cnt"))
        .orderBy(col("o_orderpriority"))),

    "q_unpivot" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
                col("p_size").cast("double").as("size"),
                col("p_retailprice").as("price"))
        .unpivot(Array(col("p_partkey")), Array(col("size"), col("price")),
                 "metric", "val")
        .orderBy(col("p_partkey"), col("metric"))),

    // EXISTS disjoined with a local predicate: the subquery can't be
    // rewritten to a plain semi join (a non-matching row may still pass via
    // the OR), so Catalyst plans an ExistenceJoin — a semi-join variant that
    // ADDS a boolean "matched" column instead of filtering, which the OR
    // then consumes (asserted in PlanAuditSpec). Same cost profile as a
    // semi join at 100 TB: one equi-shuffle on the correlation key, the
    // probe side never duplicates rows.
    "q_join_existence" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_ex_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_ex_v")
      s.sql("""SELECT c_custkey, c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
              |FROM customer_ex_v c
              |WHERE c_acctbal < 0
              |   OR EXISTS (SELECT 1 FROM orders_ex_v o
              |              WHERE o.o_custkey = c.c_custkey
              |                AND o.o_orderpriority = '1-URGENT')
              |ORDER BY c_custkey""".stripMargin)
    }),

    // Spark 4 recursive CTE (UNION ALL form — Spark rejects UNION-distinct
    // recursion; probed). The recursion is GENUINELY sequential: each step
    // compounds the running balance by 1% (integer cents, DIV) before adding
    // the month's receipts — acc(m+1) = acc(m) + acc(m) DIV 100 + tot(m+1)
    // is not expressible as a window sum, so this exercises the fixpoint
    // executor, not a rewrite. The monthly rollup is MATERIALIZED to a
    // 12-row local relation before the recursion: Spark's UnionLoop
    // re-evaluates the recursive step's plan each iteration, so an inline
    // aggregate would rescan the fact table 12× (measured 3.5 s → 0.2 s at
    // sf0.1). The 12-row collect is the justified bounded-collect pattern;
    // the fact table is scanned exactly once.
    "q_recursive_cte" -> ((s, d) => {
      import s.implicits._
      val monthly = Tables.orders(s, d)
        .selectExpr("month(o_orderdate) AS mth",
                    "cast(round(o_totalprice * 100) as bigint) AS c")
        .groupBy("mth").agg(sum(col("c")).as("tot"))
        .as[(Int, Long)].collect().toSeq
      monthly.toDF("mth", "tot").createOrReplaceTempView("months_rec_v")
      s.sql("""WITH RECURSIVE bal(m, acc) AS (
              |  SELECT 1 AS m, mt.tot AS acc FROM months_rec_v mt WHERE mt.mth = 1
              |  UNION ALL
              |  SELECT b.m + 1, b.acc + b.acc DIV 100 + mt.tot
              |  FROM bal b JOIN months_rec_v mt ON mt.mth = b.m + 1
              |  WHERE b.m < 12)
              |SELECT m, acc FROM bal ORDER BY m""".stripMargin)
    }),

    // Spark 4 SQL scalar UDFs (CREATE FUNCTION … RETURN expr): the UDF body
    // INLINES into the Catalyst plan at analysis time — unlike a JVM/Python
    // UDF it stays inside whole-stage codegen and pushdown-eligible, which
    // is the only UDF form that costs nothing at 100 TB. DuckDB has no
    // temporary-function DDL in a single-statement oracle, so the twin
    // inlines the same expressions (semantically what Spark does anyway).
    "q_sql_udf" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("li_udf_v")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE)
              |RETURNS BIGINT RETURN CAST(ROUND(x * 100) AS BIGINT)""".stripMargin)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_band(dsc DOUBLE)
              |RETURNS STRING RETURN CASE WHEN dsc >= 0.08 THEN 'deep'
              |  WHEN dsc >= 0.04 THEN 'mid' ELSE 'low' END""".stripMargin)
      s.sql("""SELECT graft_disc_band(l_discount) AS band, COUNT(*) AS n,
              |  SUM(graft_cents(l_extendedprice * (1 - l_discount))) AS rev_cents
              |FROM li_udf_v GROUP BY 1 ORDER BY band""".stripMargin)
    }),

    // Spark 4 SQL pipe syntax (|>): the same filter→aggregate→sort chain a
    // DataFrame expresses, written as the SQL-standard-track pipeline
    // dialect. Catalyst plans it identically to the nested-SELECT form (one
    // partial→final hash aggregate over the pushed-down scan) — the point
    // is SURFACE coverage: a reference user migrating pipeline-style SQL
    // runs it unchanged. Money sums ride integer cents (D1).
    // Spark 4 LATERAL COLUMN ALIAS: a SELECT-list alias referenced by later
    // expressions in the SAME select (no subquery/CTE scaffolding) —
    // resolved at analysis into the plain expression tree, so the plan is
    // identical to writing the expressions out. DuckDB supports the same
    // reference style, so the oracle is the query verbatim.
    "q_lateral_alias" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("ord_lca_v")
      s.sql("""SELECT o_orderkey,
              |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
              |  cents - (cents % 1000) AS cents_floor_10,
              |  CASE WHEN cents_floor_10 >= 20000000 THEN 'big' ELSE 'small' END AS tier
              |FROM ord_lca_v
              |WHERE o_orderstatus = 'F'
              |ORDER BY o_orderkey LIMIT 100""".stripMargin)
    }),

    // Spark 4 IDENTIFIER() clause: a table name arriving as a BOUND
    // PARAMETER (the injection-safe dynamic-SQL surface — a query service
    // routing one template across tables can never be string-spliced).
    "q_identifier_sql" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("cust_idf_v")
      s.sql(
        """SELECT c_mktsegment, COUNT(*) AS n,
          |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
          |FROM IDENTIFIER(:tbl)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
        Map("tbl" -> "cust_idf_v"))
    }),

    "q_sql_pipe" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("li_pipe_v")
      s.sql("""FROM li_pipe_v
              ||> WHERE l_quantity > 10
              ||> AGGREGATE COUNT(*) AS n,
              |            SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS rev_cents
              |   GROUP BY l_returnflag
              ||> ORDER BY l_returnflag""".stripMargin)
    }),

    // SQL SCRIPTING (the ANSI/PSM compound-statement surface, Spark 4's
    // procedural SQL): DECLARE session variables, a WHILE loop, IFs — the
    // last statement's frame is the script's result. The loop BINARY
    // SEARCHES the smallest cutoff on the 1000+500k lattice with at most
    // 200 orders above it (~11 iterations, each one declarative
    // pushdown-optimized count — the right split at 100 TB: the script
    // never touches rows, the engine does). The first cut of this query
    // walked the lattice LINEARLY — ~800 driver round-trips at sf0.1, and
    // the count grows with SF so the fixpoint (and iteration count) climbs
    // with the corpus: a DRIVER-LOOP WHOSE LENGTH SCALES WITH THE DATA is
    // the scripting twin of the per-row-predicate scale-bug class. The
    // monotone predicate makes binary search exact, so the oracle states
    // the SAME fixed point relationally (DuckDB has no scripting). The
    // scripting conf is scoped and restored (the conf-scoped-query rule).
    "q_sql_script" -> ((s, d) => {
      graft.GraftSession.withConf(s)("spark.sql.scripting.enabled" -> "true") {
        Tables.orders(s, d).createOrReplaceTempView("ord_script_v")
        val res = s.sql("""
          |BEGIN
          |  DECLARE lo BIGINT DEFAULT 0;
          |  DECLARE hi BIGINT DEFAULT 2000;
          |  DECLARE mid BIGINT DEFAULT 0;
          |  DECLARE n BIGINT DEFAULT 0;
          |  DECLARE cutoff BIGINT DEFAULT 0;
          |  DECLARE n_above BIGINT DEFAULT 0;
          |  WHILE lo < hi DO
          |    SET mid = (lo + hi) DIV 2;
          |    SET n = (SELECT COUNT(*) FROM ord_script_v
          |             WHERE o_totalprice > 1000 + 500 * mid);
          |    IF n > 200 THEN
          |      SET lo = mid + 1;
          |    ELSE
          |      SET hi = mid;
          |    END IF;
          |  END WHILE;
          |  SET cutoff = 1000 + 500 * lo;
          |  SET n_above = (SELECT COUNT(*) FROM ord_script_v
          |                 WHERE o_totalprice > cutoff);
          |  IF n_above > 0 THEN
          |    SELECT cutoff, n_above,
          |      (SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |       FROM ord_script_v WHERE o_totalprice > cutoff) AS sum_cents_above;
          |  ELSE
          |    SELECT cutoff, n_above, CAST(0 AS BIGINT) AS sum_cents_above;
          |  END IF;
          |END""".stripMargin)
        Local(res, 1).toDF(s)
      }
    }),
  )

  override def oracles: Map[String, String] = Map(
    // same lateral alias references — DuckDB resolves them identically
    "q_lateral_alias" ->
      """SELECT o_orderkey,
        |  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        |  cents - (cents % 1000) AS cents_floor_10,
        |  CASE WHEN cents_floor_10 >= 20000000 THEN 'big' ELSE 'small' END AS tier
        |FROM orders
        |WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey LIMIT 100""".stripMargin,

    // the IDENTIFIER binding is parse-time only — the oracle inlines
    "q_identifier_sql" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
        |FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > 1.5 * (SELECT AVG(o2.o_totalprice)
        |                            FROM orders o2
        |                            WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_subquery_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'price' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin,

    "q_join_existence" ->
      """SELECT c_custkey, c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM customer c
        |WHERE c_acctbal < 0
        |   OR EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_recursive_cte" ->
      """WITH RECURSIVE mt AS (
        |  SELECT EXTRACT(month FROM o_orderdate) AS mth,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tot
        |  FROM orders GROUP BY 1),
        |bal(m, acc) AS (
        |  SELECT 1 AS m, mt.tot AS acc FROM mt WHERE mt.mth = 1
        |  UNION ALL
        |  SELECT b.m + 1, b.acc + b.acc // 100 + mt.tot
        |  FROM bal b JOIN mt ON mt.mth = b.m + 1
        |  WHERE b.m < 12)
        |SELECT m, acc FROM bal ORDER BY m""".stripMargin,

    // The UDF bodies inlined (see the Spark-side comment): all-positive
    // operands so DuckDB // and Spark DIV agree; no division here anyway.
    "q_sql_udf" ->
      """SELECT CASE WHEN l_discount >= 0.08 THEN 'deep'
        |  WHEN l_discount >= 0.04 THEN 'mid' ELSE 'low' END AS band,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem GROUP BY 1 ORDER BY band""".stripMargin,

    // DuckDB has no pipe dialect — the oracle is the equivalent ANSI form
    // (the comparator sorts columns by name, so projection order is free)
    "q_sql_pipe" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM lineitem WHERE l_quantity > 10
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the WHILE loop's fixed point, stated relationally: the smallest
    // cutoff on the walked 1000+500k lattice whose exceed-count is ≤ 200
    "q_sql_script" ->
      """WITH ks AS (SELECT 1000 + 500 * k AS cutoff FROM RANGE(0, 2000) t(k)),
        |c AS (SELECT cutoff,
        |        (SELECT COUNT(*) FROM orders WHERE o_totalprice > cutoff) AS n
        |      FROM ks),
        |fix AS (SELECT MIN(cutoff) AS cutoff FROM c WHERE n <= 200)
        |SELECT f.cutoff,
        |  (SELECT COUNT(*) FROM orders WHERE o_totalprice > f.cutoff) AS n_above,
        |  COALESCE((SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |            FROM orders WHERE o_totalprice > f.cutoff), 0) AS sum_cents_above
        |FROM fix f""".stripMargin,
  )
}
