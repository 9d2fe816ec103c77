package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionScope, Tables}

/** Scale-technique joins — the two patterns a 100 TB job reaches for
  * when a plain shuffle join stops working, each declared as an
  * oracle-checked query proving the technique preserves semantics.
  *
  * `join_skew_salted`: a hot join key melts one reducer at scale.
  * Salting splits each key into S sub-keys: the probe side derives a
  * deterministic salt in [0,S), the build side is replicated S× with
  * every salt value, and the join runs on (key, salt) — the hot key's
  * rows spread over S partitions. The aggregate result is EXACTLY the
  * plain join's (the oracle runs the unsalted SQL).
  *
  * `join_bucketed_colocated`: both fact tables are written bucketed by
  * the join key into the catalog; a sort-merge join of the bucketed
  * tables then needs NO shuffle exchange — bucket i joins bucket i in
  * place. ScaleJoinsSpec asserts the exchange-free plan; the oracle
  * runs the plain join SQL. At 100 TB this is THE pattern for repeated
  * fact⋈fact joins: pay the partitioning once at staging time (the
  * reference's staging write), join shuffle-free forever after.
  */
object ScaleJoins {
  type Q = (SparkSession, String) => DataFrame

  private val salts = 4

  /** The inner plan of `join_runtime_bloom`: big fact ⋈ selectively
    * filtered dim. Exposed so ScaleJoinsSpec can assert the injected
    * bloom filter under the same confs the declared key sets. */
  private[graft] def runtimeBloomPlan(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_totalprice") > 150000.0)
      .select("o_orderkey", "o_orderstatus")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_extendedprice")
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
          .as("revenue"))
      .orderBy("o_orderstatus")
  }

  /** Run `body` with runtime-bloom-filter injection enabled and
    * broadcast disabled (the filter only injects into shuffle joins),
    * restoring every conf afterwards. The sandbox-scale thresholds
    * (application side ≥ 0 bytes) stand in for the 10 GB default a
    * real cluster keeps; at 100 TB the defaults fire on their own. */
  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T =
    SessionScope.withConf(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")(body)

  /** The inner plan of `join_skew_aqe`: a deliberately hot-keyed fact
    * (95 % of lineitem rows mapped onto join key 1) ⋈ the full orders
    * dim. Exposed so ScaleJoinsSpec can assert the skew split in the
    * executed plan under the same confs the declared key sets. */
  private[graft] def skewAqePlan(s: SparkSession, d: String): DataFrame = {
    // AQE splits a skewed partition by MAPPER ranges, so a partition
    // fed by a single map task is unsplittable — and the small
    // fixture parquet scans as exactly one task, silently yielding
    // "0 skewed partitions" (debugged r12). A real cluster always has
    // many map tasks; the round-robin repartition stands in for that.
    val fact = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .repartition(8)
      .withColumn("hk",
        when(pmod(col("l_orderkey"), lit(20)) =!= 0, 1L)
          .otherwise(col("l_orderkey")))
    val dim = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
    fact.join(dim, col("hk") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Run `body` with AQE's skew-join splitter armed at sandbox scale
    * (sub-MB thresholds stand in for the 256 MB default a real
    * cluster keeps — at 100 TB the defaults fire on their own) and
    * broadcast disabled on BOTH planner and AQE thresholds (the skew
    * splitter only rewrites sort-merge joins). Every conf restored
    * afterwards — the withBloomConfs contract. */
  private[graft] def withSkewConfs[T](s: SparkSession)(body: => T): T =
    SessionScope.withConf(s)(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB")(body)

  val queries: Map[String, Q] = Map(
    // AQE skew-join split (r12, VERDICT r11 #3) — the RUNTIME
    // counterpart of join_skew_salted's compile-time salting, closing
    // the skew story beside salting/bucketing/bloom/DPP: the hot key
    // owns ~95 % of the fact side, and instead of hand-salting,
    // AQE's OptimizeSkewedJoin splits the oversized shuffle partition
    // into advisory-sized slices at runtime (the dim side's matching
    // partition is replicated per slice — exactly what salting does
    // by hand, decided from MEASURED partition sizes instead of
    // guessed skew). The declared key materializes under conf scope
    // (the join_runtime_bloom precedent); ScaleJoinsSpec asserts the
    // executed SMJ carries the skew=true marker. The oracle runs the
    // plain hot-keyed join — the split must not change results.
    "join_skew_aqe" -> ((s, d) => withSkewConfs(s) {
      skewAqePlan(s, d).localCheckpoint(true)
    }),

    "join_skew_salted" -> ((s, d) => {
      val probe = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_linenumber"), lit(salts)))
      val build = Tables.orders(s, d)
        .crossJoin(s.range(salts).select(col("id").cast("int").as("salt2")))
      probe.join(build.hint("merge"),
          col("l_orderkey") === col("o_orderkey") && col("salt") === col("salt2"))
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n_items"),
          // decimal-exact sum: order-independent at any SF (§5.4.2)
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    "join_bucketed_colocated" -> ((s, d) => {
      val base = graft.sources.Staging.tmpDir("bucket")
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_extendedprice")
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/li").format("parquet")
        .saveAsTable("graft_li_bucketed")
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/ord").format("parquet")
        .saveAsTable("graft_ord_bucketed")
      s.table("graft_li_bucketed")
        .join(s.table("graft_ord_bucketed").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 4)
            .as("revenue"))
        .orderBy("o_orderstatus")
    }),

    // Runtime bloom-filter join (round 6) — the third scale-join
    // technique beside salting and bucketing: a selective dim filter
    // is turned into a bloom filter that prunes the FACT side's
    // shuffle input (Catalyst's InjectRuntimeFilter), so the 100 TB
    // fact scan ships only might-match rows into the exchange instead
    // of all of them. The declared key materializes under conf scope
    // (lazy plans would otherwise be optimized AFTER the confs are
    // restored — and leaving them set would leak broadcast-disable
    // into every later key); ScaleJoinsSpec asserts
    // bloom_filter_might_contain lands in the fact-side plan. The
    // oracle runs the plain join — injection must not change results.
    "join_runtime_bloom" -> ((s, d) => withBloomConfs(s) {
      runtimeBloomPlan(s, d).localCheckpoint(true)
    }),

    // Dynamic partition pruning (round 6) — the partition-level
    // counterpart of the runtime bloom filter: the fact table is
    // STAGED PARTITIONED on the join key, the dim side carries a
    // selective filter, and Catalyst injects a DynamicPruningSubquery
    // into the fact scan's PartitionFilters, so only the dim-matching
    // partitions are LISTED AND READ (here 2 of 5; at 100 TB, e.g.
    // date-partitioned facts ⋈ filtered date dim, this skips whole
    // directory trees — I/O the static pruning of
    // `scan_partition_pruned` can't express because the values are
    // only known at run time). Works with Spark defaults (broadcast
    // dim → the pruning subquery reuses the broadcast); no conf
    // scoping needed. ScaleJoinsSpec asserts dynamicpruningexpression
    // in the fact scan. Oracle: the plain join over the same VALUES
    // dim — pruning must not change results.
    "join_dpp_partition_pruned" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("dpp_events")
      val dimDir = graft.sources.Staging.tmpDir("dpp_dim")
      Tables.events(s, d).withColumn("etype", col("event_type"))
        .write.mode("overwrite").partitionBy("etype").parquet(out)
      import s.implicits._
      // Two traps the pruning rule (correctly) rejects: a pre-filtered
      // in-memory Seq constant-folds to a LocalTableScan with no
      // Filter node, and a bare BOOLEAN-column predicate is not
      // "likely selective" (isLikelySelective wants a comparison / IN
      // / LIKE). So the dim is a real parquet source and the runtime
      // filter an explicit equality on a category column.
      Seq(("view", "browse"), ("click", "browse"),
        ("purchase", "conversion"), ("signup", "conversion"),
        ("error", "noise")).toDF("t", "category")
        .write.mode("overwrite").parquet(dimDir)
      s.read.parquet(out)
        .join(s.read.parquet(dimDir).filter(col("category") === "conversion"),
          col("etype") === col("t"))
        .groupBy("etype")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"))
        .orderBy("etype")
    }),

    // Interval join as a pure equi-join: bucket event time into
    // interval-width cells; a row b with b_ts ∈ (a_ts, a_ts + W] can
    // only sit in a's cell or the next one, so replicating the probe
    // side into those two cells turns the range join into an
    // equi-join on (user, cell) + a cheap refine filter. At 100 TB
    // this is the scale path for time-window joins: a hash shuffle on
    // (user, cell) with 2× probe replication, instead of a per-user
    // range scan whose hot users melt a partition. Same 5-minute
    // semantics as join_interval_events; all time arithmetic on
    // epoch-µs BIGINTs (ns-fixture parity, §5.4.3). The oracle runs
    // the PLAIN interval join — the rewrite must not change results.
    "join_interval_bucketed" -> ((s, d) => {
      val w = 300000000L // 5 min in µs
      val e = Tables.events(s, d)
        .withColumn("us", unix_micros(col("ts")))
      val a = e.select(col("user_id"), col("us").as("a_us"),
          col("event_type").as("a_type"))
        .withColumn("cell",
          explode(array(expr(s"a_us div $w"), expr(s"a_us div $w + 1"))))
      val b = e.select(col("user_id").as("b_user"), col("us").as("b_us"))
        .withColumn("b_cell", expr(s"b_us div $w"))
      a.join(b,
          col("user_id") === col("b_user") && col("cell") === col("b_cell") &&
            col("b_us") > col("a_us") && col("b_us") <= col("a_us") + w)
        .groupBy("a_type")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(col("b_us") - col("a_us")).as("sum_gap_us"))
        .orderBy("a_type")
    }),
  )

  val oracles: Map[String, String] = Map(
    "join_skew_aqe" ->
      """WITH f AS (SELECT CASE WHEN l_orderkey % 20 <> 0 THEN 1
                               ELSE l_orderkey END AS hk,
                          l_extendedprice
                   FROM lineitem)
         SELECT o_orderpriority, count(*) AS n_items,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS revenue
         FROM f JOIN orders ON hk = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "join_skew_salted" ->
      """SELECT o_orderpriority, count(*) AS n_items,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "join_bucketed_colocated" ->
      """SELECT o_orderstatus, count(*) AS n_items,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_runtime_bloom" ->
      """SELECT o_orderstatus, count(*) AS n_items,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000.0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "join_dpp_partition_pruned" ->
      """WITH dim AS (SELECT * FROM (VALUES
                        ('view', 'browse'), ('click', 'browse'),
                        ('purchase', 'conversion'), ('signup', 'conversion'),
                        ('error', 'noise')) v(t, category))
         SELECT event_type AS etype, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total
         FROM events JOIN dim ON event_type = t
         WHERE category = 'conversion'
         GROUP BY event_type ORDER BY etype""",
    "join_interval_bucketed" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us
                    FROM events)
         SELECT a.event_type AS a_type, count(*) AS n_pairs,
                CAST(sum(b.us - a.us) AS BIGINT) AS sum_gap_us
         FROM e a JOIN e b
           ON a.user_id = b.user_id
          AND b.us > a.us AND b.us <= a.us + 300000000
         GROUP BY a.event_type ORDER BY a_type""",
  )
}
