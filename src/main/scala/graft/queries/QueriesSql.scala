package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.CacheRegistry.TrackedPersist

import graft.operators.{Compaction, PrefixSum}
import graft.sources.Tables
import graft.functions.TextFunctions
import graft.operators.Dedup
import graft.streaming.StreamJob

/** Query family: SQL-surface legs — subqueries, grouping sets, recursive/pipe/script/parameterized SQL, SQL UDFs.
  * Split from the monolithic Queries.scala (round 13) with def
  * bodies and oracle SQL byte-verbatim; surfaced unchanged via
  * [[Queries.all]] / [[Queries.oracle]]. */
private[graft] trait QueriesSql { this: Queries.type =>

  /** The SQL surface: this query IS its oracle — one SQL string run by
    * BOTH engines (Spark via temp views + spark.sql, DuckDB via the
    * driver's parquet views). Exercises correlated scalar subqueries
    * (Catalyst decorrelates to aggregates + joins) and correlated
    * EXISTS (planned as a semi join).
    */
  val q61Sql: String =
    """SELECT c_custkey, c_mktsegment,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders,
      |  (SELECT coalesce(round(sum(o.o_totalprice), 2), 0.0) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS total
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  def q61_sql_subquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(q61Sql)
  }

  /** The plain-SQL surface: the engine's tables registered as views and
    * a multi-CTE window query run through `spark.sql` — proof that a
    * reference user can bring raw ANSI SQL (CTEs, joins, windows,
    * aggregates) and Catalyst plans it like the DataFrame forms (same
    * optimizer, same codegen; E1-E16 all reachable from SQL). View
    * names are query-scoped to keep the shared session clean.
    */
  def q222_sql_interface(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("q222_customer")
    t(s, dir, "orders").createOrReplaceTempView("q222_orders")
    t(s, dir, "nation").createOrReplaceTempView("q222_nation")
    s.sql("""
      WITH rev AS (
        SELECT c.c_nationkey, c.c_custkey, round(sum(o.o_totalprice), 2) AS revenue
        FROM q222_customer c JOIN q222_orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey),
      ranked AS (
        SELECT n.n_name, r.c_custkey, r.revenue,
               row_number() OVER (PARTITION BY n.n_name
                                  ORDER BY r.revenue DESC, r.c_custkey ASC) AS rk
        FROM rev r JOIN q222_nation n ON n.n_nationkey = r.c_nationkey)
      SELECT n_name, c_custkey, revenue
      FROM ranked WHERE rk = 1
      ORDER BY n_name""")
  }

  /** The SAME SQL text [[q331_hierarchy_rollup]] answers by arithmetic
    * path enumeration, run through Spark 4's `WITH RECURSIVE` (the
    * UnionLoop engine surface, new in Spark 4.x) — seed every POSITIVE
    * key as its own descendant (q331's `a >= 1` tree domain), climb
    * parent = drop-the-last-decimal-digit per level until the root
    * (substr arithmetic, NOT floor(node/10): '/' is double division
    * in both engines, unit-exact only below 2^53 — the string form
    * keeps q331's full-BIGINT-width exactness claim). The identical
    * text runs in DuckDB as the oracle, so one
    * query judges BOTH the recursive-CTE surface itself and (because
    * its output equals q331's) cross-validates recursion against the
    * closed form. Each recursion level plans one distributed
    * map+filter over the previous level's frame; depth is bounded by
    * the key width (≤19 levels for BIGINT), never data-dependent —
    * the shape that
    * stays safe when the 100 TB corpus has a billion keys. (Arbitrary-
    * fan-out graphs still take the q165/q230 iterative route; the CTE
    * here is the SQL-user's door to the same engine.)
    */
  def q332_sql_recursive(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("q332_customer")
    s.sql(recursiveRollupSql("q332_customer"))
  }

  /** The Spark-4 PARAMETERIZED-SQL doors, oracle-judged in one
    * composition: session VARIABLES (`DECLARE` / `SET VAR`),
    * `EXECUTE IMMEDIATE` with a named `USING` binding, and the
    * programmatic `spark.sql(text, args)` named-parameter API — the
    * injection-safe ways a SQL-first user parameterizes a query
    * instead of string-splicing. The threshold rides a session
    * variable into EXECUTE IMMEDIATE; the outer refinement binds via
    * the args map. Oracle: the same SQL with literals inlined.
    */
  def q354_sql_parameterized(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q354_orders")
    s.sql("DECLARE OR REPLACE cut354 DOUBLE")
    s.sql("SET VAR cut354 = 150000.0")
    s.sql("""EXECUTE IMMEDIATE
            |  'SELECT o_orderpriority, count(*) AS n,
            |          round(sum(o_totalprice), 2) AS revenue
            |   FROM q354_orders WHERE o_totalprice > :cut
            |   GROUP BY o_orderpriority'
            |  USING cut354 AS cut""".stripMargin)
      .createOrReplaceTempView("q354_inner")
    s.sql("SELECT * FROM q354_inner WHERE n > :minn ORDER BY o_orderpriority",
      Map("minn" -> 0))
  }

  /** Spark-4 SQL-language UDFs (`CREATE FUNCTION ... RETURN expr`),
    * oracle-judged — scalar UDFs (one nested inside another) and a
    * parameterized TABLE function, the declarative reuse surface that
    * keeps user logic inside Catalyst (SQL UDFs inline into the plan
    * and stay codegen'd — unlike JVM UDFs they cost nothing): exact
    * integer cents via `q355_cents`, a band CASE via `q355_band`
    * (calling cents), and `q355_rich(k)` as a threshold-parameterized
    * table function over customer. Oracle inlines all three bodies.
    */
  def q355_sql_udf(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("q355_customer")
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q355_cents(x DOUBLE)
            |RETURNS BIGINT RETURN CAST(round(x * 100, 0) AS BIGINT)""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q355_band(b BIGINT)
            |RETURNS STRING RETURN CASE WHEN b < 0 THEN 'neg'
            |  WHEN b < 500000 THEN 'mid' ELSE 'high' END""".stripMargin)
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION q355_rich(k BIGINT)
            |RETURNS TABLE(c_custkey BIGINT, cents BIGINT)
            |RETURN SELECT c_custkey, q355_cents(c_acctbal)
            |       FROM q355_customer WHERE q355_cents(c_acctbal) >= k""".stripMargin)
    s.sql("""SELECT q355_band(cents) AS band, count(*) AS n,
            |  CAST(sum(cents) AS BIGINT) AS total_cents
            |FROM q355_rich(-50000) GROUP BY band ORDER BY band""".stripMargin)
  }

  /** SQL SCRIPTING (the Spark-4 procedural surface, completing the
    * SQL-language rungs after q354's parameterized doors and q355's
    * SQL UDFs): a `BEGIN … END` script with DECLAREd session
    * variables and a WHILE loop runs the classic iterative
    * threshold search — double a price cutoff until fewer than
    * 10,000 orders clear it — then returns the per-priority rollup
    * above the found cutoff. The loop is driven by the ENGINE's
    * scripting interpreter (each probe one pushdown-filtered count;
    * iteration count bounded by log2 of the price envelope, ~9 at any
    * SF), not by driver-side Scala. Oracle: the identical search as a
    * bounded recursive CTE (monotone counts make max(t) of the
    * recursion exactly the loop's exit threshold, and the CTE's row
    * count exactly the loop's doubling count). A '~total' summary row
    * (threshold, n_iters, rows above cutoff) precedes the rollup so
    * the judged frame is non-empty at every SF — at sf0.1 the search
    * tops out above the price envelope and the rollup alone is empty.
    */
  def q358_sql_script(s: SparkSession, dir: String): DataFrame = {
    // Concurrent-runner safe: per-invocation unique view name (dropped in
    // finally) and the session-wide scripting toggle in StreamJob's conf
    // window — two runners on different dirs must not clobber each other's
    // view or race the set/restore pair (CacheRegistry.withScope contract).
    val view = s"q358_orders_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    t(s, dir, "orders").createOrReplaceTempView(view)
    try StreamJob.withConf(s, Seq("spark.sql.scripting.enabled" -> "true")) {
      // A '~total' summary row (found threshold, probe-iteration
      // count, rows-above-cutoff) rides ahead of the rollup so the
      // judged frame is NON-EMPTY at every SF: at sf0.1 the search
      // doubles past the price envelope and the rollup alone is 0
      // rows — both engines agreed on the empty frame, but an empty
      // judged frame pins only the agreement, not the WHILE loop's
      // fixpoint. Now the threshold and iteration count themselves
      // are hash-checked everywhere ('~' sorts after every real
      // priority in both engines' binary collation).
      val out = s.sql(
        s"""BEGIN
           |  DECLARE t DOUBLE DEFAULT 1000.0;
           |  DECLARE n BIGINT DEFAULT 10000;
           |  DECLARE iters BIGINT DEFAULT 0;
           |  WHILE n >= 10000 DO
           |    SET t = t * 2;
           |    SET iters = iters + 1;
           |    SET n = (SELECT count(*) FROM $view WHERE o_totalprice > t);
           |  END WHILE;
           |  SELECT o_orderpriority, t AS threshold, iters AS n_iters,
           |         count(*) AS n_orders,
           |         round(sum(o_totalprice), 2) AS revenue
           |  FROM $view WHERE o_totalprice > t
           |  GROUP BY o_orderpriority, t, iters
           |  UNION ALL
           |  SELECT '~total' AS o_orderpriority, t AS threshold,
           |         iters AS n_iters, n AS n_orders,
           |         round(coalesce((SELECT sum(o_totalprice) FROM $view
           |                         WHERE o_totalprice > t), 0.0), 2) AS revenue
           |  ORDER BY o_orderpriority;
           |END""".stripMargin)
      // Materialize (the rollup is ~5 rows) before the view drops — the
      // returned plan must not lazily re-read the per-invocation view.
      out.localCheckpoint(eager = true)
    } finally s.catalog.dropTempView(view)
  }

  /** SQL pipe-operator syntax (`|>`, new in Spark 4.0 — SPARK-49555):
    * the linear FROM → WHERE → AGGREGATE → ORDER BY form that reads
    * in dataflow order instead of inside-out SQL. Semantically
    * IDENTICAL to the classic aggregate (the parser lowers each pipe
    * stage onto the same logical operators, so Catalyst's plan is the
    * q01-class scan→partial-agg→final-agg), which the classic-SQL
    * DuckDB oracle proves: same filter pushdown, same two-phase
    * aggregation, same result hash. Judges the surface a SQL-first
    * migrator would reach for on day one.
    */
  def q335_sql_pipe(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("q335_orders")
    s.sql("""FROM q335_orders
            ||> WHERE o_orderstatus = 'O'
            ||> AGGREGATE count(*) AS n_orders,
            |             round(sum(o_totalprice), 2) AS revenue
            |   GROUP BY o_orderpriority
            ||> ORDER BY o_orderpriority""".stripMargin)
  }

  private[graft] def sqlAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q61_sql_subquery"  -> (q61_sql_subquery _),
    "q222_sql_interface" -> (q222_sql_interface _),
    "q332_sql_recursive" -> (q332_sql_recursive _),
    "q335_sql_pipe"     -> (q335_sql_pipe _),
    "q354_sql_parameterized" -> (q354_sql_parameterized _),
    "q355_sql_udf" -> (q355_sql_udf _),
    "q358_sql_script" -> (q358_sql_script _),
  )

  private[graft] def sqlOracle: Map[String, String] = Map(
    "q358_sql_script" ->
      // |s| = the loop's doubling count: the anchor row is the first
      // SET t = t*2 (always executed — n starts at the threshold), and
      // each recursive row reproduces one more passed probe, so
      // count(*) over s equals the script's iters at every SF.
      """WITH RECURSIVE s(t) AS (
        |  SELECT 2000.0::DOUBLE
        |  UNION ALL
        |  SELECT t * 2 FROM s
        |  WHERE (SELECT count(*) FROM orders WHERE o_totalprice > s.t) >= 10000
        |),
        |f AS (SELECT max(t) AS t, count(*)::BIGINT AS n_iters FROM s)
        |SELECT o_orderpriority, f.t AS threshold, f.n_iters,
        |  count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders, f WHERE o_totalprice > f.t
        |GROUP BY 1, 2, 3
        |UNION ALL
        |SELECT '~total', f.t, f.n_iters,
        |  (SELECT count(*) FROM orders WHERE o_totalprice > f.t)::BIGINT,
        |  round(coalesce((SELECT sum(o_totalprice) FROM orders
        |                  WHERE o_totalprice > f.t), 0), 2)
        |FROM f
        |ORDER BY o_orderpriority""".stripMargin,
    "q61_sql_subquery" -> Queries.q61Sql,
    "q222_sql_interface" ->
      """WITH rev AS (
        |  SELECT c.c_nationkey, c.c_custkey, round(sum(o.o_totalprice), 2) AS revenue
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_nationkey, c.c_custkey),
        |ranked AS (
        |  SELECT n.n_name, r.c_custkey, r.revenue,
        |         row_number() OVER (PARTITION BY n.n_name
        |                            ORDER BY r.revenue DESC, r.c_custkey ASC) AS rk
        |  FROM rev r JOIN nation n ON n.n_nationkey = r.c_nationkey)
        |SELECT n_name, c_custkey, revenue
        |FROM ranked WHERE rk = 1
        |ORDER BY n_name""".stripMargin,
    "q332_sql_recursive" -> recursiveRollupSql("customer"),
    "q335_sql_pipe" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_orderstatus = 'O'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q354_sql_parameterized" ->
      """SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  round(sum(o_totalprice), 2) AS revenue
        |FROM orders WHERE o_totalprice > 150000.0
        |GROUP BY 1 HAVING count(*) > 0 ORDER BY 1""".stripMargin,
    "q355_sql_udf" ->
      """WITH r AS (
        |  SELECT c_custkey, CAST(round(c_acctbal * 100, 0) AS BIGINT) AS cents
        |  FROM customer
        |  WHERE CAST(round(c_acctbal * 100, 0) AS BIGINT) >= -50000)
        |SELECT CASE WHEN cents < 0 THEN 'neg'
        |            WHEN cents < 500000 THEN 'mid' ELSE 'high' END AS band,
        |  count(*)::BIGINT AS n,
        |  CAST(sum(cents) AS BIGINT) AS total_cents
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
