package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionScope, Tables}

/** Aggregation operators beyond the flagship Q1 (SURVEY.md §2.4).
  *
  * All group-bys compile to partial (map-side) + final HashAggregate
  * pairs — one shuffle on the group key, no row explosion. Exact
  * percentile is the only sort-heavy one (per-group sort inside the
  * aggregate buffer); at 100 TB swap in approx_percentile and drop the
  * oracle (declared separately as the HLL key does for distinct).
  *
  * DuckDB parity notes: sum(INTEGER) widens to HUGEINT in DuckDB →
  * every count-like oracle sum is CAST(... AS BIGINT); all double
  * aggregates rounded to 4 on both sides (SURVEY §5.4.2).
  */
object Aggregates {
  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // Exact COUNT(DISTINCT) per group — expands to two-phase distinct
    // aggregate (shuffle on (group, distinct-col) then on group).
    "agg_count_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
        .orderBy("event_type")),

    // HLL++ approximate distinct (rsd=2%). No oracle (approx);
    // AggregatesSpec asserts |approx - exact| <= 3*rsd*exact.
    "agg_approx_distinct_hll" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type")),

    // ROLLUP + grouping_id over (returnflag, linestatus); rolled-up
    // keys surfaced as 'ALL' so no NULL keys reach the dump.
    "agg_grouping_sets" -> ((s, d) =>
      Tables.lineitem(s, d)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().as("gid"),
          count(lit(1)).as("n"),
          // decimal-exact sum: order-independent at any SF (§5.4.2)
          round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 4)
            .as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("n"), col("sum_qty"))
        .orderBy("gid", "rf", "ls")),

    // Deterministic per-group ordered list, stringified so the parquet
    // dump and the DuckDB result hash identically.
    "agg_collect_list_sorted" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .groupBy("l_orderkey")
        .agg(
          concat_ws(",",
            transform(sort_array(collect_list(col("l_linenumber"))),
              x => x.cast("string"))).as("lines"),
          count(lit(1)).as("n_items"))
        .orderBy("l_orderkey")),

    // Explicit GROUPING SETS (complements the rollup key): per-flag,
    // per-status, and grand-total levels in one pass, via the SQL
    // surface so the actual GROUPING SETS analyzer path is exercised.
    "agg_grouping_sets_explicit" -> ((s, d) =>
      SessionScope.withViews(s)("graft_lineitem_v" -> Tables.lineitem(s, d)) {
        s.sql(
          """SELECT coalesce(l_returnflag, 'ALL') AS rf,
            |       coalesce(l_linestatus, 'ALL') AS ls,
            |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
            |       count(*) AS n
            |FROM graft_lineitem_v
            |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
            |ORDER BY gid, rf, ls""".stripMargin)
      }),

    // Sketch-based percentiles — THE 100 TB percentile path (exact
    // percentile sorts per group; approx_percentile is a bounded-
    // memory mergeable sketch). No oracle (approx); AggregatesSpec
    // bounds its error against the exact variant.
    "agg_percentile_approx" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("approx_percentile(o_totalprice, 0.5, 1000)").as("p50_approx"),
          expr("approx_percentile(o_totalprice, 0.95, 1000)").as("p95_approx"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont` — both linear interpolation).
    "agg_percentile" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("o_orderstatus")),

    // Ordered string aggregation (listagg/string_agg): the WITHIN
    // GROUP ordering makes the concatenation deterministic — without
    // it, listagg output depends on partition arrival order.
    "agg_listagg" -> ((s, d) =>
      Tables.nation(s, d)
        .groupBy("n_regionkey")
        .agg(
          expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
            .as("names"),
          count(lit(1)).as("n"))
        .orderBy("n_regionkey")),

    // Linear-regression aggregates (slope/intercept/R²): the
    // one-pass moment-based fit — never a per-group model loop. Same
    // rounding discipline as corr/covar (agg_stats).
    "agg_regression" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
            .as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
            .as("icept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"),
          expr("regr_count(l_extendedprice, l_quantity)").as("n"))
        .orderBy("l_returnflag")),

    // Boolean aggregates: conditional count + universal/existential
    // quantifiers per group — one partial+final hash-aggregate pass
    // (each branch is a tiny codegen'd predicate, never a self-join).
    "agg_boolean" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderstatus")
        .agg(
          expr("count_if(o_totalprice > 100000)").as("n_big"),
          expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
          expr("bool_or(o_totalprice > 400000)").as("any_huge"),
          expr("count_if(o_orderpriority = '1-URGENT')").as("n_urgent"))
        .orderBy("o_orderstatus")),

    // Higher-moment statistics. Spark's skewness/kurtosis are the
    // BIASED population estimators (g1, g2); DuckDB's are the
    // sample-corrected ones (G1, G2). The closed-form corrections
    //   G1 = g1·√(n(n−1))/(n−2)
    //   G2 = (n−1)/((n−2)(n−3)) · ((n+1)·g2 + 6)
    // bridge them exactly, so the oracle can use DuckDB's natives.
    "agg_skew_kurtosis" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(skewness(col("l_quantity")).as("g1"),
          kurtosis(col("l_quantity")).as("g2"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"),
          round(col("g1") * sqrt(col("n") * (col("n") - 1)) / (col("n") - 2), 4)
            .as("skew"),
          round((col("n") - 1) / ((col("n") - 2) * (col("n") - 3)) *
            ((col("n") + 1) * col("g2") + 6), 4).as("kurt"),
          col("n"))
        .orderBy("l_returnflag")),

    // Sample stddev/variance, correlation, covariance.
    "agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          // variance of QUANTITY, not price: var(price) ≈ 6e9 leaves
          // no rounding margin for cross-engine M2-merge-order drift
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_pq"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag")),

    // Deterministic exact mode (most frequent value per group). Bare
    // mode() is implementation-defined under ties in both engines, so
    // the declared formulation is the two-level one a 100 TB job runs
    // anyway: partial-aggregated (group, value) counts, then a bounded
    // per-group argmax with an explicit (count DESC, value ASC)
    // tiebreak — the heavy shuffle carries one row per distinct
    // (group, value), never raw rows.
    "agg_mode_exact" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rf"),
          col("l_quantity").cast("long").as("qty"))
        .agg(count(lit(1)).as("n_occ"))
      val w = Window.partitionBy("rf")
        .orderBy(col("n_occ").desc, col("qty").asc)
      counts.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("rf"), col("qty").as("mode_qty"), col("n_occ"))
        .orderBy("rf")
    }),

    // Conditional (filtered) aggregation: Spark's sum(when(cond, x))
    // ≡ SQL's FILTER clause — nulls outside the condition are ignored
    // by the aggregate, so each branch aggregates its own subset in
    // ONE pass over the data (no per-condition self-joins, the
    // classic anti-pattern this key exists to rule out at 100 TB).
    "agg_filtered" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
          count(when(col("o_totalprice") > 200000, 1)).as("n_big"),
          round(coalesce(
            sum(when(col("o_totalprice") > 200000,
              col("o_totalprice").cast("decimal(18,2)"))),
            lit(0).cast("decimal(18,2)")).cast("double"), 4).as("big_total"))
        .orderBy("o_orderpriority")),

    // Mergeable HLL sketches (Apache DataSketches via Spark SQL) — THE
    // 100 TB distinct path: each shard partial-aggregates user ids
    // into a fixed-size sketch, and the final stage unions SKETCHES,
    // not id sets — the shuffle carries kilobytes per (group × shard)
    // regardless of cardinality. Sketches are deterministic, but the
    // binary layout has no DuckDB twin → no oracle; AggregatesSpec
    // bounds the estimate against exact countDistinct.
    "agg_hll_sketch_merge" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"), pmod(col("user_id"), lit(32)).as("shard"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
        .groupBy("event_type")
        .agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"),
          count(lit(1)).as("n_shards"))
        .orderBy("event_type")),
  )

  val oracles: Map[String, String] = Map(
    "agg_count_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
                count(*) AS n_events
         FROM events GROUP BY event_type ORDER BY event_type""",
    "agg_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS sum_qty
         FROM lineitem
         GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls""",
    "agg_grouping_sets_explicit" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
                coalesce(l_linestatus, 'ALL') AS ls,
                CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                count(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
         ORDER BY gid, rf, ls""",
    "agg_collect_list_sorted" ->
      """SELECT l_orderkey,
                array_to_string(list_sort(list(l_linenumber)), ',') AS lines,
                count(*) AS n_items
         FROM lineitem WHERE l_orderkey % 100 = 0
         GROUP BY l_orderkey ORDER BY l_orderkey""",
    "agg_percentile" ->
      """SELECT o_orderstatus,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.95), 4) AS p95,
                count(*) AS n
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_skew_kurtosis" ->
      """SELECT l_returnflag,
                round(skewness(l_quantity), 4) AS skew,
                round(kurtosis(l_quantity), 4) AS kurt,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_listagg" ->
      """SELECT n_regionkey,
                string_agg(n_name, ',' ORDER BY n_name) AS names,
                count(*) AS n
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",
    "agg_regression" ->
      """SELECT l_returnflag,
                round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                round(regr_intercept(l_extendedprice, l_quantity), 4)
                  AS icept,
                round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
                regr_count(l_extendedprice, l_quantity) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_boolean" ->
      """SELECT o_orderstatus,
                count(*) FILTER (o_totalprice > 100000) AS n_big,
                bool_and(o_totalprice > 1000) AS all_over_1k,
                bool_or(o_totalprice > 400000) AS any_huge,
                count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "agg_stats" ->
      """SELECT l_returnflag,
                round(stddev_samp(l_extendedprice), 4) AS sd_price,
                round(var_samp(l_quantity), 4) AS var_qty,
                round(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
                round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_pq,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "agg_mode_exact" ->
      """WITH c AS (SELECT l_returnflag AS rf,
                           CAST(l_quantity AS BIGINT) AS qty,
                           count(*) AS n_occ
                    FROM lineitem GROUP BY 1, 2),
              r AS (SELECT rf, qty, n_occ,
                           row_number() OVER (PARTITION BY rf
                             ORDER BY n_occ DESC, qty) AS rn
                    FROM c)
         SELECT rf, qty AS mode_qty, n_occ
         FROM r WHERE rn = 1 ORDER BY rf""",
    "agg_filtered" ->
      """SELECT o_orderpriority, count(*) AS n,
                count(*) FILTER (o_orderstatus = 'F') AS n_f,
                count(*) FILTER (o_totalprice > 200000) AS n_big,
                round(CAST(coalesce(
                  sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (o_totalprice > 200000),
                  0) AS DOUBLE), 4) AS big_total
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
  )
}
