package graft

import graft.operators.RelationalCore

class RelationalCoreSpec extends GraftSuite {

  test("entry returns rows on sf0.001 (t1 smoke replica)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has an oracle or is documented no-oracle") {
    val declared = SparkEntry.queries.keySet
    val withOracle = SparkEntry.oracleSql.keySet
    assert(withOracle.subsetOf(declared),
      s"oracle keys without a query: ${withOracle -- declared}")
  }

  test("BASELINE.md latest anchor table covers the registered board " +
      "1:1 (r13, VERDICT r12 #2: drift.py must gate every key — two " +
      "r12 keys were committed without anchor rows and went ungated)") {
    // LITERALLY the same parse Bench.scala uses (shared
    // BaselineAnchors helper — separate copies of the regexes could
    // drift on a format change). This test is deliberately
    // env-AGNOSTIC (no local[N]/sf filter): a key must be anchored
    // regardless of which box anchored it.
    val anchored = BaselineAnchors.readText().flatMap(BaselineAnchors.latestKeys)
      .getOrElse(fail("no per-query anchor table found in BASELINE.md"))
    val board = SparkEntry.queries.keySet
    assert(board -- anchored == Set.empty[String],
      s"registered keys missing an anchor row: ${(board -- anchored).toSeq.sorted}")
    assert(anchored -- board == Set.empty[String],
      s"anchor rows for unregistered keys: ${(anchored -- board).toSeq.sorted}")
  }

  test("scan_parquet counts all lineitem rows") {
    val n = RelationalCore.queries("scan_parquet")(spark, sf)
      .collect()(0).getLong(0)
    // fixture-agnostic (GRAFT_TEST_SF can re-point the suite): the
    // declared count must equal the table's own count, and be sane
    assert(n == Tables.lineitem(spark, sf).count())
    assert(n > 1000)
  }

  test("agg_pricing_summary: ≤6 groups (3 flags × 2 statuses)") {
    val df = RelationalCore.queries("agg_pricing_summary")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty && rows.length <= 6)
    assert(df.columns.toSeq == Seq("l_returnflag", "l_linestatus",
      "sum_qty", "sum_base_price", "sum_disc_price", "sum_charge",
      "avg_qty", "avg_price", "avg_disc", "count_order"))
  }

  test("topk_order_limit returns exactly 10, descending") {
    val prices = RelationalCore.queries("topk_order_limit")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(prices.length == 10)
    assert(prices.sliding(2).forall(p => p(0) >= p(1)))
  }

  test("join_broadcast_dim covers all 5 regions") {
    val df = RelationalCore.queries("join_broadcast_dim")(spark, sf)
    assert(df.count() == 5)
  }

  test("filter_comparison: predicate holds on every row") {
    val rows = RelationalCore.queries("filter_comparison")(spark, sf).collect()
    assert(rows.forall(r => r.getDouble(2) > 45 && r.getDouble(3) <= 0.02))
  }
}
