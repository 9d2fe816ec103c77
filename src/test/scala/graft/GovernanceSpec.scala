package graft

import org.apache.spark.sql.functions._
import graft.operators.Governance

/** Governance-operator tests: the DQ audit's per-rule verdicts (on
  * the fixture and on a deduplicated batch) and the snapshot-diff /
  * stats-manifest invariants cross-checked against direct batch
  * computations. */
class GovernanceSpec extends GraftSuite {

  test("dq_expectations: uniqueness rule vetoes, all other rules pass") {
    val audit = Governance.queries("dq_expectations")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(audit.keySet == Set("fk_orderkey_in_orders", "not_null_orderkey",
      "positive_quantity", "range_discount_0_0.1", "unique_line_key"))
    // the fixture's real duplicate line keys are the ONLY violation
    val dupDirect = Tables.lineitem(spark, sf)
      .groupBy("l_orderkey", "l_linenumber", "l_partkey")
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c") - 1), lit(0L))).collect()(0).getLong(0)
    assert(dupDirect > 0, "fixture must contain duplicate line keys")
    assert(audit("unique_line_key") == (dupDirect, false))
    audit.filter(_._1 != "unique_line_key").foreach { case (rule, (n, p)) =>
      assert(n == 0 && p, s"rule $rule should pass")
    }
  }

  test("dqAudit vetoes the dup fixture, passes a deduplicated batch") {
    def failing(sfDir: String): Set[String] =
      Governance.dqAudit(spark, sfDir).filter(!col("passed"))
        .collect().map(_.getString(0)).toSet
    assert(failing(sf) == Set("unique_line_key"))

    // clean sfDir: dedup the line key, keep orders for the FK rule
    val cleanSf = graft.sources.Staging.tmpDir("dq_spec_clean_sf")
    Tables.lineitem(spark, sf)
      .dropDuplicates("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$cleanSf/lineitem.parquet")
    Tables.orders(spark, sf)
      .write.mode("overwrite").parquet(s"$cleanSf/orders.parquet")
    assert(failing(cleanSf).isEmpty,
      "every rule must pass on the deduplicated batch")
  }

  test("stage_snapshot_diff classes match the mutation recipe") {
    val diff = Governance.queries("stage_snapshot_diff")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val c = Tables.customer(spark, sf).cache()
    val added = c.filter(col("c_custkey") % 10 === 7).count()
    val removed = c.filter(col("c_custkey") % 10 === 3).count()
    val changed = c.filter(col("c_custkey") % 10 === 0).count()
    val total = c.count()
    assert(diff("added") == added)
    assert(diff("removed") == removed)
    assert(diff("changed") == changed)
    assert(diff("unchanged") == total - removed - changed)
    c.unpersist()
  }

  test("sink_stats_manifest equals direct per-status aggregation") {
    val manifest = Governance.queries("sink_stats_manifest")(spark, sf)
    val direct = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"),
        round(sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double"), 4).as("total_price"))
      .orderBy("status")
    assert(manifest.except(direct).isEmpty && direct.except(manifest).isEmpty)
  }

  test("scan_stats_pruned_files reads fewer than half the staged files") {
    // run the declared key (stages the 8 range files + answers the band
    // query), then replan the same predicate and count selected files
    val out = Governance.queries("scan_stats_pruned_files")(spark, sf)
    out.collect()
    val dir = graft.sources.Staging.scratchPath("statspruned")
    val nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val picked = Governance.statsPrune(spark, dir, 1000L, 5000L)
    assert(nFiles >= 8, s"expected 8 range files, found $nFiles")
    assert(picked.nonEmpty && picked.length * 2 < nFiles,
      s"stats pruning selected ${picked.length} of $nFiles files — not selective")
    // and the pruned read equals the full filtered read
    val full = spark.read.parquet(dir)
      .filter(col("o_orderkey").between(1000L, 5000L)).count()
    val pruned = spark.read.parquet(picked: _*)
      .filter(col("o_orderkey").between(1000L, 5000L)).count()
    assert(full == pruned, "pruning changed the result")
  }

  test("dq_reconciliation_totals: buckets exactly match a driver-side " +
    "BigDecimal mirror; every order lands in exactly one bucket") {
    val got = Governance.queries("dq_reconciliation_totals")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lines = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .collect().map(r => (r.getLong(0),
        // mirror the engine exactly: ONE double product, then quantize
        BigDecimal(r.getDouble(1) * (1.0 - r.getDouble(2))
          * (1.0 + r.getDouble(3)))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP)))
    val recomputed = lines.groupBy(_._1).view.mapValues(_.map(_._2).sum)
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(10,
          BigDecimal.RoundingMode.HALF_UP)))
    val want = orders.groupBy { case (ok, booked) =>
      recomputed.get(ok) match {
        case None => "missing_lines"
        case Some(rc) =>
          val d = (booked - rc).abs
          if (d == 0) "exact"
          else if (d * 100 < booked) "lt_1pct"
          else if (d * 10 < booked) "lt_10pct"
          else "gte_10pct"
      }
    }.view.mapValues(_.length.toLong).toMap
    assert(got == want, s"bucket census: got=$got want=$want")
    assert(got.values.sum == orders.length.toLong,
      "orders lost or double-counted across buckets")
  }

  test("pipeline_observe_metrics: CollectMetrics rides the observed " +
    "frame, the metrics arrive via the Observation API from the ONE " +
    "write action, and the declared result is a local row (no second " +
    "scan of the staged table)") {
    // (1) the observed frame plans a CollectMetrics node — the
    // telemetry is part of the write job's plan, not a separate query
    val obs = org.apache.spark.sql.Observation()
    val observed = Governance.observedStagingBatch(spark, sf, obs)
    assert(observed.queryExecution.executedPlan.toString
      .contains("CollectMetrics"),
      "observed frame does not plan a CollectMetrics node")
    // (2) ONE action (the staging write) completes the observation —
    // obs.get returning proves the listener delivered task-merged
    // metrics without any audit query
    val out = java.nio.file.Files.createTempDirectory("graft_observe_spec")
    try {
      observed.write.mode("overwrite").parquet(out.toString)
      val m = obs.get
      assert(m.keySet == Set("n_rows", "n_null_flag", "n_bad_rows",
        "sum_disc_price", "min_ship", "max_ship"))
      // the piggy-backed metrics equal a dedicated audit aggregate
      val want = Tables.lineitem(spark, sf).agg(
        count(lit(1)), count(when(col("l_returnflag").isNull, 1)),
        round(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double"), 4)).collect()(0)
      assert(m("n_rows") == want.getLong(0))
      assert(m("n_null_flag") == want.getLong(1))
      assert(m("sum_disc_price") == want.getDouble(2))
      assert(m("n_rows").asInstanceOf[Long] ==
        spark.read.parquet(out.toString).count(),
        "observed row count differs from the staged batch")
    } finally sources.Staging.deleteTree(out)
    // (3) the DECLARED DataFrame is a driver-side literal of the
    // observation — LocalTableScan, no file scan (the property that
    // matters at 100 TB: zero re-reads of what was just written)
    val res = Governance.queries("pipeline_observe_metrics")(spark, sf)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan"),
      s"declared result is not a local relation:\n$plan")
    assert(!plan.contains("FileScan") && !plan.contains("Exchange"),
      s"declared result re-scans or shuffles:\n$plan")
    assert(res.count() == 1)
  }
}
