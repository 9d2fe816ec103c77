package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-governance operators: declarative data-quality expectations,
  * snapshot diffing between staged table versions, and
  * file-statistics manifest collection — the control plane around a
  * staging engine's writes. The write-audit-publish gate itself is
  * `stage_write_audit_publish` in [[Lifecycle]].
  *
  * Scale notes (100 TB):
  *   - `dq_expectations`: every per-row rule folds into ONE
  *     aggregation pass (conditional counts); the uniqueness rule is
  *     one hash aggregate on the key; the FK rule is an anti-join
  *     whose build side is the PK column only. No rule scans the
  *     table twice.
  *   - `stage_snapshot_diff`: both snapshots hash their payload
  *     per-row (content-addressed rows), then ONE full-outer join on
  *     the key classifies added/removed/changed/unchanged — the diff
  *     shuffles keys + 32-byte hashes, never full payloads.
  *   - `sink_stats_manifest`: per-partition min/max/count stats are
  *     what a catalog stores for partition pruning; collected in one
  *     aggregation over the staged read-back (at scale: from footer
  *     metadata, which this read exercises via parquet statistics).
  */
object Governance {
  type Q = (SparkSession, String) => DataFrame

  /** The 5-rule DQ audit over the lineitem batch: three per-row rules
    * fold into ONE aggregation pass, uniqueness is one hash aggregate
    * on the line key, the FK rule is an anti-join whose build side is
    * the PK column only. Pure — callers decide what to do with it. */
  def dqAudit(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val perRow = li.agg(
      count(when(col("l_orderkey").isNull, 1)).as("nn"),
      count(when(col("l_discount") < 0 || col("l_discount") > 0.1, 1))
        .as("rng"),
      count(when(col("l_quantity") <= 0, 1)).as("pos"))
    val dups = li.groupBy("l_orderkey", "l_linenumber", "l_partkey")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L))
        .as("dup"))
    val orphans = li.join(Tables.orders(s, d).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk"))
    perRow.crossJoin(dups).crossJoin(orphans)
      .selectExpr(
        """stack(5,
             'fk_orderkey_in_orders',  fk,
             'not_null_orderkey',      nn,
             'positive_quantity',      pos,
             'range_discount_0_0.1',   rng,
             'unique_line_key',        dup)
           AS (rule, n_violations)""")
      .withColumn("passed", col("n_violations") === 0)
  }

  /** Per-file (min, max) stats over `dir`, returning the files whose
    * key range overlaps [qlo, qhi] — the scan-planning half of
    * `scan_stats_pruned_files`, shared with GovernanceSpec. The
    * overlap filter runs IN the frame, so only the surviving file
    * names reach the driver — at ~10⁷ files the per-file stats stay
    * distributed and the driver holds just the planned scan list
    * (which is what a scan planner must hold). */
  private[graft] def statsPrune(s: SparkSession, dir: String,
      qlo: Long, qhi: Long): Seq[String] =
    s.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_orderkey")).as("lo"), max(col("o_orderkey")).as("hi"))
      .filter(col("lo") <= qhi && col("hi") >= qlo)
      .select(col("f"))
      .collect()
      .map(_.getString(0)).sorted.toSeq

  val queries: Map[String, Q] = Map(
    // Declarative DQ expectations over the lineitem batch. The
    // fixture's real duplicate rows make the uniqueness rule FAIL —
    // visible in the audit output. The declared query is a PURE
    // DataFrame (no actions, no writes): a caller that gates a
    // publish on it runs the action itself.
    "dq_expectations" -> ((s, d) => dqAudit(s, d).orderBy("rule")),

    // Embedding-table QC: vector-norm distribution per label —
    // collapsed/exploded embeddings (norm ≈ 0 or huge) are the
    // classic silent failure of an embedding pipeline. Norms are
    // index-order folds (identical doubles), mean/σ from exact
    // decimal sums, and the declared outlier count uses the same
    // broadcast-stats two-pass shape as feature_scale_standardize.
    "dq_embedding_norms" -> ((s, d) => {
      val nrm = Tables.embeddings(s, d)
        .select(col("label"),
          sqrt(expr(
            "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, x) -> a + x)"))
            .as("nrm"))
      val stats = nrm.groupBy(col("label").as("sl"))
        .agg(sum(col("nrm").cast("decimal(18,12)")).as("s1"),
          sum((col("nrm") * col("nrm")).cast("decimal(28,12)")).as("s2"),
          count(lit(1)).as("n"))
        .select(col("sl"), (col("s1").cast("double") / col("n")).as("mu"),
          sqrt(greatest(lit(0.0), (col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double") / col("n"))
            / (col("n") - 1))).as("sd"))
      nrm.join(broadcast(stats), col("label") === col("sl"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          round(max(col("mu")), 4).as("mean_norm"),
          count(when(abs(col("nrm") - col("mu")) > lit(3.0) * col("sd"), 1))
            .as("n_outliers"))
        .orderBy("label")
    }),

    // Referential-integrity audit: orphan counts + parent
    // coverage for the three FK edges of the star. Each branch is a
    // key-grain LEFT join of the child's distinct-key aggregate
    // against the parent's key column; nothing here scans a fact
    // table twice (orphans and referenced-parent counts share the
    // child aggregate). HINT-FREE: the parent sides
    // (orders/customer/part) scale with sf, so a forced broadcast()
    // plans an unbuildable build side at 100 TB, also when the hint
    // wraps a derived projection of them; AQE's size check
    // broadcasts at fixture scale and sort-merges at 100 TB.
    // Pinned in PlanShapeSpec's audited-key list. The fixture is
    // FK-clean by construction, so non-zero orphans would themselves
    // be the alarm — the declared zeros are load-bearing.
    "dq_referential_integrity" -> ((s, d) => {
      def edge(child: DataFrame, ck: String, parent: DataFrame,
               pk: String, name: String): DataFrame = {
        val refs = child.groupBy(col(ck).as("k"))
          .agg(count(lit(1)).as("n_child"))
        val par = parent.select(col(pk).as("pkk"))
        val joined = refs.join(par, col("k") === col("pkk"),
          "left")
        joined.agg(
          sum(col("n_child")).cast("bigint").as("n_child_rows"),
          count(when(col("pkk").isNull, 1)).as("n_orphan_keys"),
          coalesce(sum(when(col("pkk").isNull, col("n_child"))), lit(0L))
            .cast("bigint").as("n_orphan_rows"),
          count(when(col("pkk").isNotNull, 1)).as("n_parents_referenced"))
          .select(lit(name).as("fk"), col("n_child_rows"),
            col("n_orphan_keys"), col("n_orphan_rows"),
            col("n_parents_referenced"))
      }
      edge(Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", "lineitem->orders")
        .union(edge(Tables.orders(s, d), "o_custkey",
          Tables.customer(s, d), "c_custkey", "orders->customer"))
        .union(edge(Tables.lineitem(s, d), "l_partkey",
          Tables.part(s, d), "p_partkey", "lineitem->part"))
        .orderBy("fk")
    }),

    // Freshness-lag audit: how many days each event stream lags
    // the freshest partition — the SLO check every scheduled pipeline
    // runs before publishing. Deterministic by construction: the
    // reference point is the CORPUS max day (no wall clock). One
    // aggregate + a 1-row broadcast.
    "dq_freshness_lag" -> ((s, d) => {
      val perType = Tables.events(s, d)
        .groupBy("event_type")
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("n"))
      val global = perType.agg(max(col("last_day")).as("gmax"))
      perType.crossJoin(broadcast(global))
        .select(col("event_type"),
          col("last_day").cast("string").as("last_day"),
          datediff(col("gmax"), col("last_day")).as("lag_days"), col("n"))
        .orderBy("event_type")
    }),

    // Cross-table reconciliation — the DQ gate referential
    // integrity can't see: FKs can be perfectly clean while the MONEY
    // disagrees. Recompute each order's total from its lineitems
    // (Σ extprice·(1−disc)·(1+tax) — the TPC-H identity) and bucket
    // every order by how far o_totalprice sits from it. The fixture
    // is synthetic and honors the identity for 0 orders — exactly the
    // report a reconciliation job exists to produce. Determinism: the
    // per-line product is one double expression (identical IEEE ops
    // in both engines) immediately quantized to DECIMAL(28,10); sums
    // and the diff stay exact decimals end-to-end; bucket edges are
    // decimal COMPARISONS (absdiff·100 ⋚ total — no division, no
    // rounding at the boundary). Scale: one lineitem aggregate keyed
    // by orderkey (map-side partials), one key-grain equi-join
    // against orders — hint-free, AQE decides (the FK-audit lesson);
    // buckets are a ≤5-row synopsis.
    "dq_reconciliation_totals" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).cast("decimal(28,10)").as("line"))
        .groupBy("ok").agg(sum(col("line")).as("recomputed"))
      val rec = Tables.orders(s, d)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(28,10)").as("booked"))
        .join(li, col("o_orderkey") === col("ok"), "left")
        .withColumn("absdiff",
          abs(col("booked") - coalesce(col("recomputed"),
            lit(0).cast("decimal(28,10)"))))
        .withColumn("bucket",
          when(col("recomputed").isNull, "missing_lines")
            .when(col("absdiff") === 0, "exact")
            .when(col("absdiff") * 100 < col("booked"), "lt_1pct")
            .when(col("absdiff") * 10 < col("booked"), "lt_10pct")
            .otherwise("gte_10pct"))
      rec.groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("absdiff")).cast("double"), 4).as("total_absdiff"),
          round(max(col("absdiff")).cast("double"), 4).as("max_absdiff"))
        .orderBy("bucket")
    }),

    // Snapshot diff between two staged versions: v2 is a deterministic
    // mutation of v1 (keys %10==0 changed, %10==3 removed, negated
    // keys added). Rows are content-hashed; one full-outer join on the
    // key classifies each row; output is the per-class summary a
    // data-versioning layer shows for a commit.
    "stage_snapshot_diff" -> ((s, d) => {
      val v1 = Tables.customer(s, d)
        .select(col("c_custkey"),
          md5(concat_ws("|", col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment"))).as("h1"))
      val v2base = Tables.customer(s, d)
        .filter(col("c_custkey") % 10 =!= 3)
        .select(col("c_custkey"), col("c_nationkey"),
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 100)
            .otherwise(col("c_acctbal")).as("c_acctbal"),
          col("c_mktsegment"))
      val v2 = v2base.unionByName(
          Tables.customer(s, d).filter(col("c_custkey") % 10 === 7)
            .select((-col("c_custkey")).as("c_custkey"), col("c_nationkey"),
              col("c_acctbal"), col("c_mktsegment")))
        .select(col("c_custkey"),
          md5(concat_ws("|", col("c_nationkey"), col("c_acctbal"),
            col("c_mktsegment"))).as("h2"))
      v1.join(v2, Seq("c_custkey"), "full_outer")
        .select(
          when(col("h1").isNull, "added")
            .when(col("h2").isNull, "removed")
            .when(col("h1") =!= col("h2"), "changed")
            .otherwise("unchanged").as("class"))
        .groupBy("class").agg(count(lit(1)).as("n"))
        .orderBy("class")
    }),

    // Stats-manifest FILE PRUNING — the scan-planning step
    // that makes `sink_stats_manifest`'s stats pay off (the
    // Iceberg-style read path): stage range-partitioned files, build
    // a per-file (min, max) stats manifest, and answer a key-band
    // query by reading ONLY the files whose range overlaps the
    // predicate. The manifest collect is manifest-sized (8 rows —
    // scan planning is driver work in every table format); the
    // declared aggregate must equal the plain filtered query (oracle)
    // — pruning is not allowed to change results. GovernanceSpec
    // asserts fewer than half the files are read. At 100 TB this is
    // the difference between listing+reading a directory and opening
    // the 2 files a point query touches.
    "scan_stats_pruned_files" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("statspruned")
      Tables.orders(s, d).repartitionByRange(8, col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      val picked = statsPrune(s, out, 1000L, 5000L)
      val src = if (picked.nonEmpty) s.read.parquet(picked: _*)
                else s.read.parquet(out)
      src.filter(col("o_orderkey").between(1000L, 5000L))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
        .orderBy("o_orderstatus")
    }),

    // File-statistics manifest of a partitioned staged table: per
    // partition, the row count + key min/max + decimal-exact measure
    // total — the stats a catalog uses for partition pruning. The
    // manifest is collected from the staged READ-BACK (round-trip
    // through the engine's own sink), not from the source.
    "sink_stats_manifest" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("stats_manifest")
      Tables.orders(s, d)
        .withColumn("status", col("o_orderstatus"))
        .write.mode("overwrite").partitionBy("status").parquet(out)
      s.read.parquet(out)
        .groupBy("status")
        .agg(
          count(lit(1)).as("n_rows"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total_price"))
        .orderBy("status")
    }),

    // Zero-extra-pass DQ telemetry: Dataset
    // .observe()/CollectMetrics — the BATCH analog of
    // stream_quality_gate. The staging WRITE is the only action over
    // the table; the DQ aggregates ride it as a CollectMetrics node
    // (per-task partial aggregation merged on the driver through the
    // Observation listener), so at 100 TB the batch is scanned ONCE —
    // write + audit in the same pass — instead of twice (write job,
    // then a dedicated audit query re-reading what was just staged).
    // The declared DataFrame is the observed metrics row rebuilt as a
    // driver-side literal (LocalTableScan — GovernanceSpec pins that
    // it contains NO file scan, and that CollectMetricsExec sits in
    // the observed plan). Oracle: the same aggregates as plain SQL —
    // the hash match proves the piggy-backed metrics equal what a
    // dedicated audit query would have answered. Determinism: counts
    // are exact; the money sum goes through DECIMAL(18,4) before the
    // rounded double (§5.4 rules); dates stringify as yyyy-MM-dd in
    // both engines.
    "pipeline_observe_metrics" -> ((s, d) => {
      val obs = org.apache.spark.sql.Observation()
      val out = graft.sources.Staging.tmpDir("observe_stage")
      observedStagingBatch(s, d, obs)
        .write.mode("overwrite").parquet(out)
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("n_null_flag").asInstanceOf[Long],
        m("n_bad_rows").asInstanceOf[Long],
        m("sum_disc_price").asInstanceOf[Double],
        m("min_ship").asInstanceOf[String],
        m("max_ship").asInstanceOf[String]))
        .toDF("n_rows", "n_null_flag", "n_bad_rows", "sum_disc_price",
          "min_ship", "max_ship")
    }),
  )

  /** The lineitem staging batch with the DQ observation attached —
    * shared by the `pipeline_observe_metrics` key and GovernanceSpec
    * (which pins CollectMetricsExec in this frame's executed plan).
    * Observed expressions may wrap aggregates in scalar functions but
    * may not reference columns outside them — exactly the audit shape:
    * row count, null count, constraint-violation count, decimal-exact
    * money total, and the staged batch's date range. */
  private[graft] def observedStagingBatch(
      s: SparkSession, d: String,
      obs: org.apache.spark.sql.Observation): DataFrame =
    Tables.lineitem(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      count(when(col("l_returnflag").isNull, 1)).as("n_null_flag"),
      count(when(col("l_quantity") <= 0 || col("l_extendedprice") < 0, 1))
        .as("n_bad_rows"),
      round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).cast("double"), 4).as("sum_disc_price"),
      min(to_date(col("l_shipdate"))).cast("string").as("min_ship"),
      max(to_date(col("l_shipdate"))).cast("string").as("max_ship"))

  val oracles: Map[String, String] = Map(
    "pipeline_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
                CAST(count(CASE WHEN l_returnflag IS NULL THEN 1 END)
                  AS BIGINT) AS n_null_flag,
                CAST(count(CASE WHEN l_quantity <= 0
                                  OR l_extendedprice < 0 THEN 1 END)
                  AS BIGINT) AS n_bad_rows,
                round(CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                  AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_disc_price,
                CAST(CAST(min(l_shipdate) AS DATE) AS VARCHAR)
                  AS min_ship,
                CAST(CAST(max(l_shipdate) AS DATE) AS VARCHAR)
                  AS max_ship
         FROM lineitem ORDER BY n_rows""",
    "scan_stats_pruned_files" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 4) AS total
         FROM orders WHERE o_orderkey BETWEEN 1000 AND 5000
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "dq_embedding_norms" ->
      """WITH nrm AS (SELECT label,
                             sqrt(list_aggregate(list_transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               'sum')) AS nrm
                      FROM embeddings),
              st AS (SELECT label AS sl,
                            CAST(sum(CAST(nrm AS DECIMAL(18,12)))
                              AS DOUBLE) / count(*) AS mu,
                            sqrt(greatest(CAST(0 AS DOUBLE),
                                 (CAST(sum(CAST(nrm * nrm
                                     AS DECIMAL(28,12))) AS DOUBLE)
                                  - CAST(sum(CAST(nrm AS DECIMAL(18,12)))
                                      AS DOUBLE)
                                    * CAST(sum(CAST(nrm AS DECIMAL(18,12)))
                                        AS DOUBLE) / count(*))
                                 / (count(*) - 1))) AS sd
                     FROM nrm GROUP BY 1)
         SELECT label, count(*) AS n,
                round(max(mu), 4) AS mean_norm,
                count(*) FILTER (WHERE abs(nrm - mu) > 3.0 * sd)
                  AS n_outliers
         FROM nrm JOIN st ON label = sl
         GROUP BY label ORDER BY label""",
    "dq_referential_integrity" ->
      """WITH e1 AS (SELECT 'lineitem->orders' AS fk,
                            CAST(count(*) AS BIGINT) AS n_child_rows,
                            count(DISTINCT CASE WHEN o_orderkey IS NULL
                              THEN l_orderkey END) AS n_orphan_keys,
                            CAST(count(*) FILTER (WHERE o_orderkey IS NULL)
                              AS BIGINT) AS n_orphan_rows,
                            count(DISTINCT o_orderkey)
                              AS n_parents_referenced
                     FROM lineitem LEFT JOIN orders
                       ON l_orderkey = o_orderkey),
              e2 AS (SELECT 'orders->customer',
                            CAST(count(*) AS BIGINT),
                            count(DISTINCT CASE WHEN c_custkey IS NULL
                              THEN o_custkey END),
                            CAST(count(*) FILTER (WHERE c_custkey IS NULL)
                              AS BIGINT),
                            count(DISTINCT c_custkey)
                     FROM orders LEFT JOIN customer
                       ON o_custkey = c_custkey),
              e3 AS (SELECT 'lineitem->part',
                            CAST(count(*) AS BIGINT),
                            count(DISTINCT CASE WHEN p_partkey IS NULL
                              THEN l_partkey END),
                            CAST(count(*) FILTER (WHERE p_partkey IS NULL)
                              AS BIGINT),
                            count(DISTINCT p_partkey)
                     FROM lineitem LEFT JOIN part ON l_partkey = p_partkey)
         SELECT * FROM e1 UNION ALL SELECT * FROM e2
         UNION ALL SELECT * FROM e3 ORDER BY fk""",
    "dq_freshness_lag" ->
      """WITH pt AS (SELECT event_type, max(CAST(ts AS DATE)) AS last_day,
                            count(*) AS n
                     FROM events GROUP BY 1),
              g AS (SELECT max(last_day) AS gmax FROM pt)
         SELECT event_type, CAST(last_day AS VARCHAR) AS last_day,
                CAST(date_diff('day', last_day, gmax) AS INTEGER)
                  AS lag_days, n
         FROM pt, g ORDER BY event_type""",
    "dq_reconciliation_totals" ->
      """WITH li AS (SELECT l_orderkey AS ok,
                            sum(CAST(l_extendedprice * (1.0 - l_discount)
                                     * (1.0 + l_tax)
                                AS DECIMAL(28,10))) AS recomputed
                     FROM lineitem GROUP BY l_orderkey),
              rec AS (SELECT o.o_orderkey,
                             CAST(o.o_totalprice AS DECIMAL(28,10))
                               AS booked,
                             li.recomputed
                      FROM orders o LEFT JOIN li ON li.ok = o.o_orderkey),
              cls AS (SELECT booked,
                             abs(booked - coalesce(recomputed,
                               CAST(0 AS DECIMAL(28,10)))) AS absdiff,
                             CASE
                               WHEN recomputed IS NULL THEN 'missing_lines'
                               WHEN abs(booked - recomputed) = 0
                                 THEN 'exact'
                               WHEN abs(booked - recomputed) * 100 < booked
                                 THEN 'lt_1pct'
                               WHEN abs(booked - recomputed) * 10 < booked
                                 THEN 'lt_10pct'
                               ELSE 'gte_10pct'
                             END AS bucket
                      FROM rec)
         SELECT bucket, count(*) AS n_orders,
                round(CAST(sum(absdiff) AS DOUBLE), 4) AS total_absdiff,
                round(CAST(max(absdiff) AS DOUBLE), 4) AS max_absdiff
         FROM cls GROUP BY bucket ORDER BY bucket""",
    "dq_expectations" ->
      """WITH nn AS (SELECT count(*) FILTER (WHERE l_orderkey IS NULL) AS v
                     FROM lineitem),
              rng AS (SELECT count(*) FILTER (WHERE l_discount < 0
                        OR l_discount > 0.1) AS v FROM lineitem),
              pos AS (SELECT count(*) FILTER (WHERE l_quantity <= 0) AS v
                      FROM lineitem),
              dup AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS v
                      FROM (
                        SELECT count(*) AS c FROM lineitem
                        GROUP BY l_orderkey, l_linenumber, l_partkey
                        HAVING count(*) > 1)),
              fk AS (SELECT count(*) AS v FROM lineitem l
                     WHERE NOT EXISTS (SELECT 1 FROM orders o
                                       WHERE o.o_orderkey = l.l_orderkey))
         SELECT rule, n_violations, n_violations = 0 AS passed FROM (
           SELECT 'fk_orderkey_in_orders' AS rule,
                  (SELECT v FROM fk) AS n_violations
           UNION ALL SELECT 'not_null_orderkey', (SELECT v FROM nn)
           UNION ALL SELECT 'positive_quantity', (SELECT v FROM pos)
           UNION ALL SELECT 'range_discount_0_0.1', (SELECT v FROM rng)
           UNION ALL SELECT 'unique_line_key', (SELECT v FROM dup))
         ORDER BY rule""",
    "stage_snapshot_diff" ->
      """WITH v1 AS (SELECT c_custkey,
                            md5(concat_ws('|', c_nationkey, c_acctbal,
                                          c_mktsegment)) AS h1
                     FROM customer),
              v2 AS (SELECT c_custkey,
                            md5(concat_ws('|', c_nationkey,
                              CASE WHEN c_custkey % 10 = 0
                                   THEN c_acctbal + 100
                                   ELSE c_acctbal END,
                              c_mktsegment)) AS h2
                     FROM customer WHERE c_custkey % 10 <> 3
                     UNION ALL
                     SELECT -c_custkey,
                            md5(concat_ws('|', c_nationkey, c_acctbal,
                                          c_mktsegment))
                     FROM customer WHERE c_custkey % 10 = 7)
         SELECT CASE WHEN h1 IS NULL THEN 'added'
                     WHEN h2 IS NULL THEN 'removed'
                     WHEN h1 <> h2 THEN 'changed'
                     ELSE 'unchanged' END AS class,
                count(*) AS n
         FROM v1 FULL OUTER JOIN v2 USING (c_custkey)
         GROUP BY class ORDER BY class""",
    "sink_stats_manifest" ->
      """SELECT o_orderstatus AS status, count(*) AS n_rows,
                min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total_price
         FROM orders GROUP BY o_orderstatus ORDER BY status""",
  )
}
