package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SessionScope.{withConf, withViews}
import graft.Tables

/** Subquery and reshaping operators (round-3 extensions): scalar
  * subqueries, correlated EXISTS (Catalyst decorrelates both —
  * SURVEY §4's RewriteCorrelatedScalarSubquery /
  * PullupCorrelatedPredicates), and pivot (wide reshaping).
  *
  * The Spark side uses spark.sql for the subquery keys so the actual
  * subquery surface (not a hand-rewritten join) goes through the
  * analyzer/optimizer; plan-wise both decorrelate into the joins a
  * user would otherwise write by hand.
  *
  * Scale notes: the scalar subquery materializes to a 1-row broadcast;
  * correlated EXISTS decorrelates to a left-semi hash join (one
  * shuffle on the correlation key); pivot is a single groupBy whose
  * pivoted columns are a fixed, declared list (never
  * discover-values-then-pivot, which would add a driver-side pass).
  */
object Subqueries {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Full SQL-TEXT star query through spark.sql over registered temp
    // views (r7) — the sibling entry point to the DataFrame API a
    // SQL-first user drives: 5-table star (region → nation → customer
    // → orders → lineitem), revenue per (region, nation). The SQL
    // string is shared VERBATIM with the oracle (table names match
    // the fixture views) — parity by construction, and Catalyst's
    // join reorder/pushdown applies to text exactly as to DataFrames.
    "sql_text_star_revenue" -> ((s, d) =>
      withViews(s)("region" -> Tables.region(s, d),
          "nation" -> Tables.nation(s, d),
          "customer" -> Tables.customer(s, d),
          "orders" -> Tables.orders(s, d),
          "lineitem" -> Tables.lineitem(s, d)) {
        s.sql(sqlTextStarRevenue)
      }),

    // Orders above the global average price — scalar subquery.
    "subquery_scalar_agg" -> ((s, d) =>
      withViews(s)("graft_orders_v" -> Tables.orders(s, d)) {
        s.sql(
          """SELECT o_orderstatus, count(*) AS n
            |FROM graft_orders_v
            |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_orders_v)
            |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
      }),

    // Customers with ≥1 large order — correlated EXISTS.
    "subquery_correlated_exists" -> ((s, d) =>
      withViews(s)("graft_orders_v" -> Tables.orders(s, d),
          "graft_customer_v" -> Tables.customer(s, d)) {
        s.sql(
          """SELECT c_mktsegment, count(*) AS n
            |FROM graft_customer_v c
            |WHERE EXISTS (SELECT 1 FROM graft_orders_v o
            |              WHERE o.o_custkey = c.c_custkey
            |                AND o.o_totalprice > 300000)
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      }),

    // Quantified comparisons (r12) — the ANY/ALL member completing
    // the subquery family (scalar / EXISTS / IN / LATERAL / ANY-ALL).
    // Spark's parser has NO quantified-subquery syntax (measured:
    // `> ALL (SELECT …)` is a PARSE_SYNTAX_ERROR in 4.1.2), so the
    // engine side declares the textbook REWRITE — x > ALL(S) ⇔
    // x > max(S), x < ANY(S) ⇔ x < max(S) (valid because the fixture
    // subqueries are non-empty and null-free; with NULLs the
    // quantifier is three-valued and the rewrite needs a guard) —
    // while the ORACLE runs the REAL ANY/ALL syntax in DuckDB: the
    // hash match IS the cross-formulation evidence the rewrite is
    // the quantifier (the join_asof_native pattern). Both scalar
    // subqueries reduce to 1-row aggregates broadcast to the scan —
    // the only shape a quantifier over an sf-scaling subquery may
    // take at 100 TB (never a per-row probe).
    "subquery_any_all" -> ((s, d) =>
      withViews(s)("graft_part_v" -> Tables.part(s, d)) {
        s.sql(
          """SELECT p_brand, count(*) AS n,
            |       round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)))
            |             AS DOUBLE), 4) AS total
            |FROM graft_part_v
            |WHERE p_retailprice > (SELECT max(p_retailprice / 2)
            |                       FROM graft_part_v
            |                       WHERE p_partkey % 100 = 0)
            |  AND p_retailprice < (SELECT max(p_retailprice)
            |                       FROM graft_part_v
            |                       WHERE p_partkey % 50 = 0)
            |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
      }),

    // SQL scripting (r12) — Spark 4's procedural SQL surface
    // (BEGIN/DECLARE/SET/WHILE, spark.sql.scripting.enabled): an
    // adaptive-threshold search that DOUBLES a price cutoff until
    // fewer than 1000 orders survive — the driver-side control loop
    // every production job hides in Python, expressed in the engine's
    // own language. Each WHILE iteration is ONE full aggregate query
    // (the loop variable is driver state, the data work is
    // distributed — the right split: control on the driver, scans on
    // the cluster); power(2.0, int) is exact in both engines.
    // DuckDB has no scripting, so the oracle computes the SAME
    // fixpoint declaratively (first k in 1..40 with count < 1000 via
    // a correlated sweep) — the hash match proves the procedural and
    // declarative forms agree, the subquery_any_all cross-formulation
    // pattern. Cost note: ~19 sequential iterations each plan+codegen
    // their own literal (~4.6 s at sf0.1) — the scripting-machinery
    // floor, the procedural analog of the streaming keys' microbatch
    // floor; a production loop would bisect (5 probes) or sweep
    // declaratively like the oracle when the data fits one pass.
    "sql_scripting_while" -> ((s, d) => {
      // r15 (guide §5 "the driver should do almost no data work", §2.3
      // project early): the WHILE loop issues ~19 sequential scans of
      // the view, and each one only ever reads o_totalprice. Register
      // the view over the SINGLE projected column, materialized once
      // (localCheckpoint) — the 19 iterations then scan an in-memory
      // one-column block instead of re-reading the parquet file per
      // probe. Same fixpoint, same output; at production scale this is
      // exactly the synopsis you'd pin before a driver-side loop.
      val ordv = Tables.orders(s, d).select(col("o_totalprice"))
        .localCheckpoint(true)
      withViews(s)("graft_orders_v" -> ordv) {
        withConf(s)("spark.sql.scripting.enabled" -> "true") {
          val res = s.sql(
            """BEGIN
              |  DECLARE k INT DEFAULT 0;
              |  DECLARE n BIGINT DEFAULT 0;
              |  SET n = (SELECT count(*) FROM graft_orders_v);
              |  WHILE n >= 1000 AND k < 40 DO
              |    SET k = k + 1;
              |    SET n = (SELECT count(*) FROM graft_orders_v
              |             WHERE o_totalprice > power(2.0, k));
              |  END WHILE;
              |  SELECT k, CAST(power(2.0, k) AS DOUBLE) AS threshold,
              |         n AS n_above;
              |END""".stripMargin).localCheckpoint(true)
          // the ~19 probe scans all ran inside the eager checkpoint
          // above; the one-column view block is dead from here (r15 #5)
          graft.Ckpt.free(ordv)
          res
        }
      }
    }),

    // SQL pipe syntax (r13, VERDICT r12 #3) — Spark 4's |> operator
    // chain: the same multi-stage Q1 shape as a linear dataflow
    // (FROM → WHERE → EXTEND → AGGREGATE → ORDER BY) instead of the
    // inside-out classic nesting. The parser desugars each stage onto
    // the same logical plan as the classic text — SubqueriesSpec pins
    // optimizedPlan.sameResult against `sqlPipeClassic`, so pushdown/
    // pruning/partial aggregation apply identically and the surface
    // costs nothing at 100 TB. Oracle = the classic ANSI text (DuckDB
    // has no pipe syntax) — cross-syntax evidence, the
    // subquery_any_all precedent in reverse.
    "sql_pipe_syntax" -> ((s, d) =>
      withViews(s)("lineitem" -> Tables.lineitem(s, d)) {
        s.sql(
          """FROM lineitem
            ||> WHERE l_quantity > 5
            ||> EXTEND l_extendedprice * (1 - l_discount) AS disc_price
            ||> AGGREGATE count(*) AS n,
            |     round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
            |       AS DOUBLE), 2) AS sum_qty,
            |     round(CAST(sum(CAST(disc_price AS DECIMAL(18,4)))
            |       AS DOUBLE), 4) AS revenue
            |   GROUP BY l_returnflag, l_linestatus
            ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
      }),

    // SQL-body scalar UDFs (r13, VERDICT r12 #4) — CREATE FUNCTION
    // ... RETURNS ... RETURN <expr>, the declarative counterpart of
    // `udf_scalar`'s JVM closure. The analyzer INLINES the body into
    // the calling plan (SubqueriesSpec pins zero ScalaUDF nodes and
    // the surviving whole-stage-codegen spans) — exactly why a 100 TB
    // pipeline prefers them: no serialization boundary, no codegen
    // break, and pushdown/partial-agg see through the call. Two
    // bodies exercise both shapes: an arithmetic expression feeding
    // an aggregate, and a CASE band used as a grouping key. Oracle:
    // the same expressions textually inlined in DuckDB.
    "fn_sql_udf" -> ((s, d) =>
      withViews(s)("graft_lineitem_v" -> Tables.lineitem(s, d)) {
        // the analyzed frame has both bodies inlined, so it outlives
        // the functions, as it outlives the view
        try {
          s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
                     p DOUBLE, disc DOUBLE) RETURNS DOUBLE
                   RETURN p * (1 - disc)""")
          s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(
                     p DOUBLE) RETURNS STRING
                   RETURN CASE WHEN p < 20000 THEN 'low'
                               WHEN p < 50000 THEN 'mid'
                               ELSE 'high' END""")
          s.sql(
            """SELECT l_returnflag,
                      graft_price_band(l_extendedprice) AS band,
                      count(*) AS n,
                      round(CAST(sum(CAST(graft_disc_price(l_extendedprice,
                        l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4)
                        AS revenue
               FROM graft_lineitem_v
               GROUP BY l_returnflag, graft_price_band(l_extendedprice)
               ORDER BY l_returnflag, band""")
        } finally {
          s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_disc_price")
          s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_price_band")
        }
      }),

    // SQL-body TABLE function (r13) — CREATE FUNCTION ... RETURNS
    // TABLE, completing the SQL-UDF surface beside fn_sql_udf's
    // scalars: a parameterized band generator (the reusable dimension
    // every reporting layer re-declares inline) consumed via LATERAL.
    // Like the scalar form, the body INLINES — and with literal
    // arguments it CONSTANT-FOLDS: the plan is a per-row Generate
    // explode(literal array) fused onto the orders scan with the band
    // filter behind it in the same codegen stage — no join node at
    // all, strictly better than the broadcast range join a manual
    // dimension table would plan (Round13Spec pins zero UDF nodes,
    // zero joins, exactly one scan). Body note: the generator is
    // explode(sequence(0, n-1)) — SQL-function bodies reject range()
    // with parameter args (NON_FOLDABLE_ARGUMENT, probed r13).
    // Oracle: the same band-edge EXPRESSIONS inlined over an
    // unnest([0..3]) frame — identical IEEE edge arithmetic in both
    // engines (never floor(p/width), whose division can round across
    // a band edge the comparisons don't).
    "fn_sql_table_udf" -> ((s, d) =>
      withViews(s)("graft_orders_v" -> Tables.orders(s, d)) {
        try {
          s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_bands(
                     lo DOUBLE, hi DOUBLE, n INT)
                   RETURNS TABLE (band INT, blo DOUBLE, bhi DOUBLE)
                   RETURN SELECT band, lo + band * (hi - lo) / n AS blo,
                                 lo + (band + 1) * (hi - lo) / n AS bhi
                          FROM (SELECT explode(sequence(0, n - 1)) AS band)""")
          s.sql(
            """SELECT o_orderstatus, b.band, count(*) AS n,
                      round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 4) AS total
               FROM graft_orders_v o,
                    LATERAL graft_bands(0.0, 600000.0, 4) b
               WHERE o.o_totalprice >= b.blo AND o.o_totalprice < b.bhi
               GROUP BY o_orderstatus, b.band
               ORDER BY o_orderstatus, band""")
        } finally s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_bands")
      }),

    // Correlated LATERAL join (SQL-surface lateral subquery): a
    // per-order aggregate computed in the FROM clause. Catalyst
    // decorrelates it to an outer join against a grouped aggregate —
    // never a per-row re-execution, so it scales like a join.
    "subquery_lateral" -> ((s, d) =>
      withViews(s)("graft_orders_v" -> Tables.orders(s, d),
          "graft_lineitem_v" -> Tables.lineitem(s, d)) {
        s.sql(
          """SELECT o.o_orderkey, o.o_orderstatus, l.max_price, l.n_lines
            |FROM graft_orders_v o,
            |LATERAL (SELECT max(l_extendedprice) AS max_price,
            |                count(*) AS n_lines
            |         FROM graft_lineitem_v
            |         WHERE l_orderkey = o.o_orderkey) l
            |WHERE o.o_orderkey % 500 = 0
            |ORDER BY o.o_orderkey""".stripMargin)
      }),

    // Error-safe (TRY) arithmetic: division by a zero-able divisor,
    // integer div, and try_cast of non-numeric strings all yield NULL
    // instead of failing the job — the semantics a staging pipeline
    // needs for dirty numeric columns.
    "fn_try_arith" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 997 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("try_divide(l_extendedprice, l_quantity - 17)").as("td"),
          expr("try_divide(CAST(l_quantity AS BIGINT), l_linenumber - 1)")
            .as("idiv"),
          expr("try_cast(l_returnflag AS INT)").as("tc"))
        .orderBy("l_orderkey", "l_linenumber")),

    // Recursive CTE (r9; Spark 4's WITH RECURSIVE): hierarchy walk
    // over the implicit binary-heap tree parent(k) = floor(k/2) on a
    // bounded customer sample — the org-chart / BOM-rollup query
    // shape SQL engines express only recursively. The SQL text is
    // shared VERBATIM with the DuckDB oracle (the star-revenue
    // precedent): both engines iterate the same seed + step, depth =
    // floor(log2 k) ≈ 11 levels here, and each level is one
    // self-equi-join — on a cluster the per-level frame is
    // partitioned by the join key, so recursion depth, not data
    // volume, bounds the round count (same O(log n) shape as the CC
    // loop).
    "sql_recursive_cte" -> ((s, d) =>
      withViews(s)("customer" -> Tables.customer(s, d)) {
        s.sql(sqlRecursiveCte)
      }),

    // Wide reshape: order counts by status × a fixed priority list.
    "pivot_wide" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", Seq("1-URGENT", "3-MEDIUM", "5-LOW"))
        .agg(count(lit(1)))
        .select(
          col("o_orderstatus"),
          coalesce(col("1-URGENT"), lit(0L)).as("p1_urgent"),
          coalesce(col("3-MEDIUM"), lit(0L)).as("p3_medium"),
          coalesce(col("5-LOW"), lit(0L)).as("p5_low"))
        .orderBy("o_orderstatus")),
  )

  /** Shared VERBATIM between spark.sql and the DuckDB oracle —
    * cross-engine parity by construction. */
  private val sqlTextStarRevenue: String =
    """SELECT r_name AS region, n_name AS nation,
              count(*) AS n_items,
              round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
       FROM region
       JOIN nation ON n_regionkey = r_regionkey
       JOIN customer ON c_nationkey = n_nationkey
       JOIN orders ON o_custkey = c_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       GROUP BY r_name, n_name
       ORDER BY region, nation"""

  /** Shared VERBATIM between spark.sql and the DuckDB oracle. Both
    * engines support WITH RECURSIVE with identical UNION ALL
    * iteration semantics; `/` on BIGINTs is float division in both
    * (so floor(k / 2) is the portable integer parent). */
  private val sqlRecursiveCte: String =
    """WITH RECURSIVE nodes AS (
         SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
         FROM customer WHERE c_custkey <= 1500
       ),
       tree AS (
         SELECT k, bal, 0 AS depth FROM nodes WHERE k = 1
         UNION ALL
         SELECT n.k, n.bal, t.depth + 1
         FROM nodes n JOIN tree t
           ON CAST(floor(n.k / 2) AS BIGINT) = t.k AND n.k > 1
       )
       SELECT depth, count(*) AS n_nodes,
              round(CAST(sum(bal) AS DOUBLE), 4) AS total_bal
       FROM tree GROUP BY depth ORDER BY depth"""

  /** The classic ANSI formulation of `sql_pipe_syntax` — shared
    * VERBATIM between the DuckDB oracle and Round13Spec's
    * plan-equality pin (optimizedPlan.sameResult with the pipe text),
    * so the pipe chain is proven to desugar onto this exact plan. The
    * derived column sits in a subquery exactly like the pipe's EXTEND
    * stage (an inlined `sum(expr)` would optimize to the same rows
    * but a different alias shape, defeating the sameResult pin). */
  private[graft] val sqlPipeClassic: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
              round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                AS DOUBLE), 2) AS sum_qty,
              round(CAST(sum(CAST(disc_price AS DECIMAL(18,4)))
                AS DOUBLE), 4) AS revenue
       FROM (SELECT *, l_extendedprice * (1 - l_discount) AS disc_price
             FROM lineitem WHERE l_quantity > 5) t
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  val oracles: Map[String, String] = Map(
    "sql_pipe_syntax" -> sqlPipeClassic,
    "fn_sql_table_udf" ->
      """WITH b AS (SELECT band,
                           0.0 + band * (600000.0 - 0.0) / 4 AS blo,
                           0.0 + (band + 1) * (600000.0 - 0.0) / 4 AS bhi
                    FROM (SELECT unnest([0, 1, 2, 3]) AS band))
         SELECT o_orderstatus, CAST(band AS INT) AS band,
                CAST(count(*) AS BIGINT) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total
         FROM orders o, b
         WHERE o.o_totalprice >= b.blo AND o.o_totalprice < b.bhi
         GROUP BY o_orderstatus, band
         ORDER BY o_orderstatus, band""",
    "fn_sql_udf" ->
      """SELECT l_returnflag,
                CASE WHEN l_extendedprice < 20000 THEN 'low'
                     WHEN l_extendedprice < 50000 THEN 'mid'
                     ELSE 'high' END AS band,
                count(*) AS n,
                round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
         FROM lineitem
         GROUP BY l_returnflag, band
         ORDER BY l_returnflag, band""",
    // Mirrors the WHILE loop's BOUNDARY semantics exactly (ADVICE r12):
    // (a) if count(orders) < 1000 the loop body never runs → k=0 with
    // n_above = the total count; (b) if no k ≤ 40 drops below 1000 the
    // loop exits on the k<40 guard → k=40 with its (≥1000) count;
    // (c) otherwise the first k in 1..40 with n < 1000. The three
    // branches are mutually exclusive, so the UNION ALL yields one row.
    "sql_scripting_while" ->
      """WITH total AS (SELECT count(*) AS n0 FROM orders),
              ks AS (SELECT unnest(range(1, 41)) AS k),
              cnt AS (SELECT k,
                             (SELECT count(*) FROM orders
                              WHERE o_totalprice > power(2.0, k)) AS n
                      FROM ks),
              hit AS (SELECT k, n FROM cnt
                      WHERE n < 1000 ORDER BY k LIMIT 1),
              pick AS (
                SELECT 0 AS k, (SELECT n0 FROM total) AS n
                WHERE (SELECT n0 FROM total) < 1000
                UNION ALL
                SELECT k, n FROM hit
                WHERE (SELECT n0 FROM total) >= 1000
                UNION ALL
                SELECT 40 AS k, (SELECT n FROM cnt WHERE k = 40) AS n
                WHERE (SELECT n0 FROM total) >= 1000
                  AND NOT EXISTS (SELECT 1 FROM hit))
         SELECT CAST(k AS INT) AS k,
                CAST(power(2.0, k) AS DOUBLE) AS threshold,
                CAST(n AS BIGINT) AS n_above
         FROM pick ORDER BY k LIMIT 1""",
    "subquery_any_all" ->
      """SELECT p_brand, count(*) AS n,
                round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2)))
                      AS DOUBLE), 4) AS total
         FROM part
         WHERE p_retailprice > ALL (SELECT p_retailprice / 2 FROM part
                                    WHERE p_partkey % 100 = 0)
           AND p_retailprice < ANY (SELECT p_retailprice FROM part
                                    WHERE p_partkey % 50 = 0)
         GROUP BY p_brand ORDER BY p_brand""",
    "sql_text_star_revenue" -> sqlTextStarRevenue,
    "sql_recursive_cte" -> sqlRecursiveCte,
    "subquery_lateral" ->
      """SELECT o.o_orderkey, o.o_orderstatus, l.max_price, l.n_lines
         FROM orders o,
         LATERAL (SELECT max(l_extendedprice) AS max_price,
                         count(*) AS n_lines
                  FROM lineitem
                  WHERE l_orderkey = o.o_orderkey) l
         WHERE o.o_orderkey % 500 = 0
         ORDER BY o.o_orderkey""",
    "fn_try_arith" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice / (l_quantity - 17) AS td,
                CAST(l_quantity AS BIGINT) / (l_linenumber - 1) AS idiv,
                try_cast(l_returnflag AS INT) AS tc
         FROM lineitem WHERE l_orderkey % 997 = 0
         ORDER BY l_orderkey, l_linenumber""",
    "subquery_scalar_agg" ->
      """SELECT o_orderstatus, count(*) AS n
         FROM orders WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "subquery_correlated_exists" ->
      """SELECT c_mktsegment, count(*) AS n
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 300000)
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "pivot_wide" ->
      """SELECT o_orderstatus,
                CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
                  AS p1_urgent,
                CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT)
                  AS p3_medium,
                CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT)
                  AS p5_low
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
  )
}
