package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-8 pins.
  *
  * Fixture-schema tripwire: the driver regenerated /root/testdata on
  * 2026-08-13 and `events.ts` flipped physical encoding from INT64
  * TIMESTAMP(NANOS) to plain timestamp[us] — which errored 65 of 258
  * keys in the r7 correctness gate (every consumer of `ts div 1000`)
  * while the old Bench error-swallowing recorded them as ~0.06 s
  * "speedups". These tests make any future fixture drift fail the
  * suite with an explicit message instead of failing 65 keys at
  * judging time.
  */
class Round8Spec extends GraftSuite {

  test("events.ts raw encoding is one of the two known generations") {
    // an INT64 TIMESTAMP(NANOS) column does not even read without a
    // legacy flag: report that as a new encoding too, not as a bare
    // parquet error
    val raw = scala.util.Try(
      spark.read.parquet(s"$sf/events.parquet").schema("ts").dataType)
    assert(raw.toOption.exists(t => t == TimestampNTZType || t == TimestampType),
      s"events.ts has a NEW physical encoding " +
        raw.fold(e => s"(unreadable: ${e.getMessage.take(200)})", _.toString) +
        " — extend Tables.normalizeEventsTs and re-check every oracle")
  }

  test("Tables.events normalizes ts to TimestampType under either encoding") {
    val ev = Tables.events(spark, sf)
    assert(ev.schema("ts").dataType == TimestampType)
    // and the values are sane instants (the fixture generation epoch),
    // not 1970-adjacent garbage from a bad unit conversion
    val yr = ev.agg(min(year(col("ts"))), max(year(col("ts"))))
      .collect()(0)
    assert(yr.getInt(0) >= 2020 && yr.getInt(1) <= 2030,
      s"events.ts year range ${yr.mkString("-")} looks mis-scaled")
  }

  test("dedup_semantic_cluster: per-cell audit is conserved and bounded") {
    val out = SparkEntry.queries("dedup_semantic_cluster")(spark, sf).collect()
    assert(out.length == 16, "one row per centroid cell")
    out.foreach { r =>
      val (m, d, k) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(m == d + k, s"cell ${r.getInt(0)}: members $m != dropped $d + kept $k")
      assert(d >= 0 && k >= 1, "a cell always keeps its smallest-id member")
    }
    val total = out.map(_.getLong(1)).sum
    val emb = Tables.embeddings(spark, sf).count()
    assert(total == emb, s"cells partition the corpus ($total vs $emb)")
  }

  test("sim_pq_ann: 3 neighbors per probe, ADC distances ranked ascending") {
    val out = SparkEntry.queries("sim_pq_ann")(spark, sf).collect()
    assert(out.length == 15, "5 probes x top-3")
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      val dists = byRank.map(_.getDouble(3)).toSeq
      assert(dists == dists.sorted, s"ADC not ascending: $dists")
      assert(dists.forall(_ >= 0.0))
    }
    // a probe never retrieves itself
    assert(out.forall(r => r.getLong(0) != r.getLong(2)))
  }

  test("sim_ivfpq_ann: top-3 per probe from probed cells, ADC ascending") {
    val out = SparkEntry.queries("sim_ivfpq_ann")(spark, sf).collect()
    assert(out.length == 15, "5 probes x top-3")
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(1))
      assert(byRank.map(_.getInt(1)).toSeq == Seq(1, 2, 3))
      val dists = byRank.map(_.getDouble(3)).toSeq
      assert(dists == dists.sorted && dists.forall(_ >= 0.0))
    }
    assert(out.forall(r => r.getLong(0) != r.getLong(2)), "no self-retrieval")
  }

  test("dedup_lsh_band_eval: candidate volume is monotone in band count") {
    val out = SparkEntry.queries("dedup_lsh_band_eval")(spark, sf)
      .orderBy(col("bands").desc).collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((8, 1), (4, 2), (2, 4)))
    val cands = out.map(_.getLong(2)).toSeq
    // more bands with shorter rows => strictly more (or equal)
    // collision opportunities — the S-curve the harness exists to show
    assert(cands(0) >= cands(1) && cands(1) >= cands(2),
      s"candidate counts not monotone: $cands")
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(2), "hits cannot exceed candidates")
      assert(r.getLong(4) <= r.getLong(3), "hits cannot exceed truth")
    }
  }

  test("sim_pq_recall_eval: one row per probe, recall consistent with hits") {
    val out = SparkEntry.queries("sim_pq_recall_eval")(spark, sf).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val (h, rec) = (r.getLong(1), r.getDouble(2))
      assert(h >= 0 && h <= 10)
      assert(math.abs(rec - h / 10.0) < 1e-12)
    }
  }

  test("join_asof_nearest: side counts partition the matched set") {
    val r = SparkEntry.queries("join_asof_nearest")(spark, sf).collect()(0)
    val (np, nm, back, fwd) =
      (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4))
    assert(nm <= np)
    assert(back + fwd == nm,
      s"backward $back + forward-only $fwd must partition matched $nm")
  }

  test("spatial_points_in_regions: counts bounded by corpus, regions ordered") {
    val out = SparkEntry.queries("spatial_points_in_regions")(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    assert(out.nonEmpty && out.length <= 25)
    val rids = out.map(_.getInt(0)).toSeq
    assert(rids == rids.sorted)
    // rectangles may overlap, but no region can exceed the corpus
    out.foreach(r => assert(r.getLong(1) >= 1 && r.getLong(1) <= nCust))
  }

  test("text_perplexity_buckets: terciles partition each language") {
    val out = SparkEntry.queries("text_perplexity_buckets")(spark, sf).collect()
    out.groupBy(_.getString(0)).foreach { case (lang, rows) =>
      assert(rows.map(_.getString(1)).sorted.toSeq ==
        Seq("1_head", "2_middle", "3_tail"), s"$lang missing a bucket")
      val Seq(h, m, tl) = rows.sortBy(_.getString(1)).map(_.getLong(2)).toSeq
      assert(h >= m && m >= tl && h - tl <= 1,
        s"$lang tercile sizes not balanced: $h/$m/$tl")
      // head has the lowest surprise
      val byB = rows.sortBy(_.getString(1))
      assert(byB(0).getDouble(4) <= byB(2).getDouble(3) + 1e-9,
        s"$lang head max must not exceed tail min")
    }
  }

  test("sample_temperature_mix: weights sum to ~1 and boost low-resource") {
    val out = SparkEntry.queries("sample_temperature_mix")(spark, sf).collect()
    val wsum = out.map(_.getDouble(2)).sum
    assert(wsum > 0.99 && wsum <= 1.0001, s"weights sum $wsum")
    val byN = out.sortBy(_.getLong(1))
    assert(byN.head.getDouble(4) >= byN.last.getDouble(4),
      "smallest language must get the largest boost")
  }

  test("all fixture tables keep their expected column names") {
    val expected = Map(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    )
    expected.foreach { case (t, cols) =>
      val got = spark.read.parquet(s"$sf/$t.parquet").columns.toSeq
      assert(got == cols, s"fixture $t columns drifted: $got")
    }
  }
}
