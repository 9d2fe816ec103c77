package graft

import graft.operators.RelationalCore
import org.apache.spark.sql.functions.{broadcast, col}

/** Plan-shape assertions (SURVEY §5.3.5): prove that pushdown,
  * pruning, broadcast, and top-k claims hold in the EXECUTED physical
  * plan, not just in intent. Each test triggers execution first so the
  * adaptive plan is final. */
class PlanShapeSpec extends GraftSuite {

  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("scan_projection_pushdown reads ONLY the two projected columns") {
    val plan = executedPlan("scan_projection_pushdown")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning did not reach the parquet scan:\n$plan")
  }

  test("filter_comparison pushes predicates into the parquet scan") {
    val plan = executedPlan("filter_comparison")
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThan(l_quantity,45.0)"),
      s"filter not pushed to scan:\n$plan")
  }

  test("join_broadcast_dim uses BroadcastHashJoin for both dims") {
    val plan = executedPlan("join_broadcast_dim")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected 2 broadcast joins:\n$plan")
  }

  test("topk_order_limit compiles to TakeOrderedAndProject (no global sort)") {
    val plan = executedPlan("topk_order_limit")
    assert(plan.contains("TakeOrderedAndProject"), s"top-k plan wrong:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort crept into top-k:\n$plan")
  }

  test("agg_pricing_summary uses partial+final hash aggregation") {
    val plan = executedPlan("agg_pricing_summary")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final HashAggregate pair:\n$plan")
  }

  test("join_shuffle_large is a sort-merge join (the 100 TB plan)") {
    val plan = executedPlan("join_shuffle_large")
    assert(plan.contains("SortMergeJoin"), s"merge hint not honored:\n$plan")
  }

  test("join_interval_bucketed is an equi-join, never a nested-loop join") {
    // the whole point of the cell rewrite: the range predicate must
    // ride an equi hash/merge join as a post-join condition
    val plan = executedPlan("join_interval_bucketed")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval rewrite fell back to a nested-loop join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no equi-join in interval-bucketed plan:\n$plan")
  }

  test("dedup_incremental_ingest anti-join stays a hash join") {
    val plan = executedPlan("dedup_incremental_ingest")
    assert(plan.contains("LeftAnti"), s"anti join missing:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"anti join degenerated to nested loop:\n$plan")
  }

  test("scan_partition_pruned touches only the matching partition") {
    val plan = executedPlan("scan_partition_pruned")
    assert(plan.contains("PartitionFilters:") && plan.contains("yr"),
      s"partition filter missing from scan:\n$plan")
    // the predicate must NOT survive as a post-scan data filter on yr
    assert(!plan.contains("PushedFilters: [IsNotNull(yr)"),
      s"yr treated as a data column, not a partition column:\n$plan")
  }

  test("agg_hll_sketch_merge partial-aggregates sketches map-side") {
    val plan = executedPlan("agg_hll_sketch_merge")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final sketch aggregation:\n$plan")
  }

  test("stage_merge_upsert: MERGE anti-join broadcasts the update keys") {
    val plan = executedPlan("stage_merge_upsert")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join for the merge:\n$plan")
  }

  test("anomaly_zscore broadcasts the stats, never windows the raw scan") {
    val plan = executedPlan("anomaly_zscore")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-group stats not broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"whole-partition window over raw events is the wrong plan:\n$plan")
  }

  test("dedup_embedding_neardup pair stage is a bucket equi-join, not all-pairs") {
    val plan = executedPlan("dedup_embedding_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"LSH candidate stage degenerated to an all-pairs join:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"no equi-join on (table, signature) in the candidate stage:\n$plan")
  }

  test("dedup_cluster_cc edge stage is a bucket equi-join, not all-pairs") {
    val plan = executedPlan("dedup_cluster_cc")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"LSH edge stage degenerated to an all-pairs join:\n$plan")
  }

  test("sim_hard_negatives broadcasts the query side over one corpus scan") {
    val plan = executedPlan("sim_hard_negatives")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"corpus x corpus cartesian is the wrong plan:\n$plan")
  }

  test("timeseries_weighted_avg reuses the window's partitioning for the agg") {
    // toString includes AQE's "== Initial Plan ==" echo — count
    // exchanges only in the final executed section
    val plan = executedPlan("timeseries_weighted_avg")
      .split("== Initial Plan ==")(0)
    // exactly one hash exchange (the user_id window sort); the
    // groupBy(user_id) aggregation must NOT add a second one
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"aggregation re-shuffled what the window already partitioned:\n$plan")
  }

  test("text_sequence_pack groups on (shard, pack) without re-shuffling " +
      "the shard window") {
    // hashpartitioning(shard) already co-locates every (shard, pack_id)
    // group — EnsureRequirements must accept the coarser partitioning
    // instead of adding a second exchange
    val plan = executedPlan("text_sequence_pack")
      .split("== Initial Plan ==")(0)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      s"pack aggregation re-shuffled the shard window's partitioning:\n$plan")
  }

  test("graph_pagerank never falls back to a nested-loop join and " +
      "iterates over the materialized edge list, not parquet re-scans") {
    val plan = executedPlan("graph_pagerank")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pagerank join degenerated:\n$plan")
    // the degree-joined edge list is localCheckpoint'ed once
    // (the union-of-projections edge shape defeated exchange reuse —
    // the executed plan carried 28 lineitem scans); the 3 unrolled
    // iterations must consume that materialization (LogicalRDD), so
    // the ranking plan contains NO parquet scan at all
    val body = plan.split("== Initial Plan ==")(0)
    assert(!body.contains("Scan parquet"),
      s"pagerank iterations re-scan parquet:\n$plan")
    assert(body.contains("Scan ExistingRDD"),
      s"materialized edge list missing from the plan:\n$plan")
  }

  test("sim_lsh_ann signature projection is codegen'd, not a ScalaUDF") {
    // the LshSignatures expression replaced the Seq[Float]-boxing
    // UDF — the plan must carry the native lsh_sigs call and no UDF
    // invoke in the signature projection
    val plan = executedPlan("sim_lsh_ann")
    assert(!plan.contains("UDF("), s"signature UDF survived:\n$plan")
    assert(plan.contains("lsh_sigs"), s"lsh_sigs expression missing:\n$plan")
  }

  test("multimodal_features pushes doc_id % 50 through the join to BOTH scans") {
    // the filter is written AFTER the join; Catalyst must (a) push it
    // below the join onto the documents scan and (b) INFER the
    // equivalent vec_id % 50 predicate onto the embeddings scan via
    // the join-key constraint — without (b) the embeddings side scans
    // 50x the rows it needs (a driver watch item; isolation-bench
    // 0.87 s flat, the 1.22 s driver sample was ordering noise)
    val plan = executedPlan("multimodal_features")
      .split("== Initial Plan ==")(0)
    assert("""\(doc_id#\d+L? % 50\) = 0""".r.findFirstIn(plan).isDefined,
      s"doc_id % 50 not pushed below the join:\n$plan")
    assert("""\(vec_id#\d+L? % 50\) = 0""".r.findFirstIn(plan).isDefined,
      s"vec_id % 50 not inferred onto the embeddings scan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"filtered dim side should broadcast:\n$plan")
  }

  test("join_asof_tolerance_bucketed joins PURE EQUI on (user, cell) " +
      "— no nested-loop fallback, range only as post-filter (r12)") {
    val plan = executedPlan("join_asof_tolerance_bucketed")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"bucketed asof degenerated to a range join:\n$plan")
    // the probe side's 2-cell replication is a Generate (explode),
    // and the match join carries the cell key
    assert(plan.contains("Generate explode"),
      s"2-cell probe replication missing:\n$plan")
  }

  test("text_span_dedup explodes spans ONCE and runs join-free") {
    // the naive shape (span frame joined with its own per-hash marks)
    // re-ran the 1M-span explode+md5 on both sides of the join — the
    // window formulation must keep exactly one Generate and no join
    val plan = executedPlan("text_span_dedup")
      .split("== Initial Plan ==")(0)
    assert("Generate explode".r.findAllIn(plan).size == 1,
      s"span explode duplicated:\n$plan")
    assert(!plan.contains("Join"), s"join crept back into span dedup:\n$plan")
    // the span-hash frame crosses the wire ONCE (see ShuffleAudit) —
    // the explicit repartition(h) serves both the (h, doc_id)
    // aggregate and the h window, so the only hash exchanges are the
    // span repartition + the final doc-grain census (an earlier shape
    // shuffled the span frame twice: 17.5 MB for a 1.4 MB corpus)
    assert(plan.contains("REPARTITION_BY_COL"),
      s"span-hash repartition missing:\n$plan")
    // invariant, not a literal: the guarded regression
    // is the span frame crossing the wire TWICE — at most 2 hash
    // exchanges total (span repartition + doc census); fewer is fine
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2,
      s"expected <=2 hash exchanges (span repartition + doc census), " +
        s"got $hashEx:\n$plan")
  }

  test("LshSignatures generated Java actually compiles and matches eval") {
    // The plan-string grep above can pass even when janino rejects the
    // generated code and the stage silently runs interpreted (an
    // earlier bug: Object→ArrayData assignment). Compile the expression
    // DIRECTLY — GenerateUnsafeProjection throws on a janino failure,
    // no fallback — and check the compiled path agrees with eval().
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val expr = graft.functions.LshSignatures(
      BoundReference(0, ArrayType(FloatType, containsNull = true), nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr)) // throws if codegen is broken
    val emb = new GenericArrayData(Array.tabulate(64)(i =>
      math.sin(i * 0.7).toFloat))
    val row = InternalRow(emb)
    val compiled = proj(row).getArray(0).toIntArray()
    val interpreted = expr.eval(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(compiled.sameElements(interpreted),
      s"compiled ${compiled.mkString(",")} != eval ${interpreted.mkString(",")}")
    // null embedding and short embedding → SQL NULL on the compiled path
    assert(proj(InternalRow(null)).isNullAt(0))
    assert(proj(InternalRow(new GenericArrayData(Array(1.0f)))).isNullAt(0))
  }

  test("PqAssignCodes generated Java compiles and matches eval") {
    // Same rationale as the LshSignatures test above: a janino
    // failure would silently fall back to interpreted execution.
    // Compile the projection directly — throws if codegen is broken —
    // and cross-check compiled vs eval on a 3-subspace codebook.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val cb: Seq[Seq[Seq[Double]]] = Seq.tabulate(3)(m =>
      Seq.tabulate(4)(k => Seq.tabulate(2)(j => m + k * 0.5 + j * 0.25)))
    val cbLit = Literal.create(cb,
      ArrayType(ArrayType(ArrayType(DoubleType))))
    val e = graft.functions.PqAssignCodes(
      BoundReference(0, ArrayType(DoubleType, containsNull = true),
        nullable = true), cbLit)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val v = new GenericArrayData(Array.tabulate(6)(i => math.cos(i) * 2))
    val row = InternalRow(v)
    val compiled = proj(row).getArray(0).toIntArray()
    val interpreted = e.eval(row)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray()
    assert(compiled.sameElements(interpreted),
      s"compiled ${compiled.mkString(",")} != eval ${interpreted.mkString(",")}")
    // codes equal a driver-side argmin recomputation
    val expect = (0 until 3).map { m =>
      (0 until 4).minBy { k =>
        (0 until 2).map { j =>
          val t = v.getDouble(m * 2 + j) - cb(m)(k)(j); t * t
        }.sum
      }
    }
    assert(compiled.toSeq == expect, s"${compiled.toSeq} != $expect")
    // null vector and short vector → SQL NULL on the compiled path
    assert(proj(InternalRow(null)).isNullAt(0))
    assert(proj(InternalRow(new GenericArrayData(Array(1.0)))).isNullAt(0))
  }

  test("text_unigram_logprob broadcasts the corpus total (1 row)") {
    val plan = executedPlan("text_unigram_logprob")
    assert(!plan.contains("CartesianProduct"),
      s"1-row total must broadcast, not cartesian:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"corpus-total join is not broadcast:\n$plan")
  }

  test("unigram-LM scorer: pinned vocab broadcast, one scan, one explode") {
    // A flagged skew hazard: an unpinned
    // vocab join would fall back to a token-frame shuffle keyed on
    // Zipf-skewed tokens at 100 TB. The fix is structural — assert it.
    for (k <- Seq("text_unigram_logprob", "text_perplexity_buckets")) {
      // AQE toString prints Final + Initial plans — count in Final only
      val plan = executedPlan(k).split("== Initial Plan ==")(0)
      assert(plan.contains("BroadcastHashJoin"),
        s"$k: vocab join must be a pinned BroadcastHashJoin:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("ShuffledHashJoin"),
        s"$k: token frame must never shuffle on the token key:\n$plan")
      // fit synopsis is checkpointed: the declared plan rescans the
      // corpus exactly once (scoring) and explodes it exactly once
      assert("FileScan parquet".r.findAllIn(plan).size == 1,
        s"$k: expected exactly one corpus scan (fit is checkpointed):\n$plan")
      assert("Generate explode".r.findAllIn(plan).size == 1,
        s"$k: token explode duplicated:\n$plan")
    }
  }

  test("PQ ADC joins broadcast the distance table, never shuffle codes") {
    for (k <- Seq("sim_pq_ann", "sim_ivfpq_ann")) {
      val plan = executedPlan(k)
      assert(plan.contains("BroadcastHashJoin"),
        s"$k: ADC join must be a BroadcastHashJoin:\n$plan")
      assert(!plan.contains("SortMergeJoin") &&
        !plan.contains("CartesianProduct"),
        s"$k: the |Q|·M·k distance table must broadcast — a " +
          s"SortMergeJoin here shuffles the corpus-sized code table:\n$plan")
    }
  }

  test("dedup_semantic_cluster pair stage is a cid equi-join, no cartesian") {
    val plan = executedPlan("dedup_semantic_cluster")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"within-cell pairs must come from the cid equi-join:\n$plan")
  }

  test("pipeline_chunk_embed_e2e: postings join broadcasts probes + " +
    "keep-list, candidate norms never broadcast, no cartesian") {
    val plan = executedPlan("pipeline_chunk_embed_e2e")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"probe postings, keep-list(s), and probe norms must all " +
        s"broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"retrieval must stay a dim-keyed equi-join:\n$plan")
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"the candidate-norm join must stay a shuffle join (an " +
        s"all-chunk-norm broadcast would not survive 100 TB):\n$plan")
  }

  test("analytics_survival_km: one scan of orders, segment join is " +
    "broadcast, no cartesian beyond the 1-row cutoff") {
    val plan = executedPlan("analytics_survival_km")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"the customer-segment join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"no corpus-sized shuffle join expected at this shape:\n$plan")
  }

  test("sample_poisson_bootstrap: the x16 replicate explode partial-" +
    "aggregates map-side (no raw-row shuffle)") {
    val plan = executedPlan("sample_poisson_bootstrap")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"partial+final aggregation expected around the rep shuffle:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("analytics_pareto_skyline: one aggregation pass, no dominance " +
    "join of any kind") {
    val plan = executedPlan("analytics_pareto_skyline")
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Join"),
      s"skyline must be sort-filter, never an O(n^2) dominance join:\n$plan")
    assert(plan.contains("Window"),
      s"running-max window missing:\n$plan")
  }

  test("sample_kfold_cv_eval: the k fold models broadcast back onto " +
    "one corpus re-scan") {
    val plan = executedPlan("sample_kfold_cv_eval")
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastHashJoin"),
      s"the 5-row model table must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join in the scoring pass:\n$plan")
  }

  test("analytics_ks_test: pair fan-out is a broadcast nested-loop " +
    "against the 10-row pair table only") {
    // split off the "== Initial Plan ==" AQE echo — the pre-adaptive
    // pairs join shows as CartesianProduct there but executes as a
    // broadcast nested loop in the final plan
    val plan = executedPlan("analytics_ks_test")
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the OR-predicate pair join rides a broadcast of 10 rows:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no unbroadcast cartesian allowed in the FINAL plan:\n$plan")
  }

  // ==== no single-partition window over table-proportional input ====
  // anywhere. A global window — one whose partitionSpec is empty
  // after optimization (partitionBy(lit(1)) constant-folds to empty)
  // — moves ALL rows to one task. The four keys that once carried
  // one over table-grain input now ship their
  // documented per-partition/aggregate forms; these pins make the
  // shapes regression-proof: any global window that survives must be
  // provably synopsis-grain.

  import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

  /** All optimized-plan Window nodes whose partition spec is empty or
    * all-foldable — the shapes WindowExec executes on ONE task. */
  private def globalWindows(name: String): Seq[LWindow] = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.forall(_.foldable) => w
    }.toSeq
  }

  test("analytics_pareto_skyline: every global window sits ABOVE the " +
    "per-range-partition skyline pass (merge is skyline-grain)") {
    val gw = globalWindows("analytics_pareto_skyline")
    assert(gw.nonEmpty, "the skyline merge + rank windows must exist")
    gw.foreach { w =>
      val localPass = w.child.collect {
        case c: LWindow if c.partitionSpec.exists(
          _.references.exists(_.name == "pid")) => c
      }
      assert(localPass.nonEmpty,
        s"global window runs over part-grain input, not the local skylines:\n$w")
    }
  }

  test("sample_low_discrepancy_vdc + agg_gini_split_scan: global rank " +
    "comes from ScaleRank; surviving global windows are synopsis-grain") {
    // gr_cnt = per-range-partition count synopsis (≤ shuffle.partitions
    // rows), env_mx = the kept-rank boundary envelope (same bound),
    // gini4 = the ≤19-row threshold grain. Any other global window is
    // a regression to the single-partition rank.
    val synopsis = Set("gr_cnt", "env_mx", "gini4")
    for (key <- Seq("sample_low_discrepancy_vdc", "agg_gini_split_scan")) {
      globalWindows(key).foreach { w =>
        val names = w.child.output.map(_.name).toSet
        assert(names.intersect(synopsis).nonEmpty,
          s"$key: global window over non-synopsis input " +
            s"(${names.mkString(", ")}):\n$w")
      }
    }
  }

  test("sample_farthest_point_coreset: ZERO single-partition windows " +
    "in ANY executed job (the greedy rounds run eagerly via " +
    "localCheckpoint — a plan probe on the final frame can't see " +
    "them, so the probe listens for WindowExec's planning warning)") {
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
    val appender =
      new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-global-window-probe", null, null, false,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(
            e: org.apache.logging.log4j.core.LogEvent): Unit = {
          val m = e.getMessage.getFormattedMessage
          if (m.contains("No Partition Defined for Window")) captured.add(m)
        }
      }
    appender.start()
    val rootCfg = ctx.getConfiguration.getRootLogger
    rootCfg.addAppender(appender, org.apache.logging.log4j.Level.WARN, null)
    ctx.updateLoggers()
    try {
      // construction runs the 7 rounds (eager checkpoints); collect
      // finalizes the declared frame — the probe must stay silent
      // through BOTH (the warning is logged synchronously at planning
      // time, so no listener-flush race exists)
      val df = SparkEntry.queries("sample_farthest_point_coreset")(spark, sf)
      df.collect()
    } finally {
      rootCfg.removeAppender("graft-global-window-probe")
      ctx.updateLoggers()
      appender.stop()
    }
    assert(captured.isEmpty,
      s"a single-partition window executed inside the coreset loop: " +
        s"${captured.peek()}")
  }

  test("analytics_association_rules: top-20 plans as " +
    "TakeOrderedAndProject (per-partition heaps, no single-reducer " +
    "sort of the pair grain)") {
    val plan = executedPlan("analytics_association_rules")
      .split("== Initial Plan ==")(0)
    assert(plan.contains("TakeOrderedAndProject"),
      s"orderBy().limit(20) did not plan as TakeOrderedAndProject:\n$plan")
  }

  test("analytics_cuped: pooled moments ride a 1-row broadcast back " +
    "onto the unit frame; no cartesian, no range-partitioned sort") {
    val plan = executedPlan("analytics_cuped")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"pool moments did not broadcast back:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian crept into the cuped plan:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 4,
      s"per-unit rollup + per-arm aggregate must be partial+final " +
        s"HashAggregate pairs:\n$plan")
  }

  test("sample_time_decay: horizon is a 1-row broadcast, the decay " +
    "coin runs inside one partial-aggregated pass") {
    val plan = executedPlan("sample_time_decay")
      .split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"horizon max did not broadcast:\n$plan")
    assert("HashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final HashAggregate:\n$plan")
    // the only range exchange allowed is the final presentation sort
    // over the ≤|years|-row aggregate, never a sort of the order rows
    assert("Exchange rangepartitioning".r.findAllIn(plan).size <= 1,
      s"an extra range sort crept below the aggregate:\n$plan")
  }

  test("sample_pps_systematic: the only global window is the " +
    "prefix-sum over the per-partition-total synopsis (the " +
    "withGlobalCumsum contract — never a single-partition cumsum " +
    "of the unit table)") {
    val gw = globalWindows("sample_pps_systematic")
    assert(gw.nonEmpty, "the offset prefix-sum window must exist")
    gw.foreach { w =>
      val names = w.child.output.map(_.name).toSet
      assert(names.contains("gc_tot") || names.contains("gc_pid"),
        s"global window over non-synopsis input " +
          s"(${names.mkString(", ")}):\n$w")
    }
  }

  test("sample_raking_ipf: the 3 IPF rounds run ENTIRELY on the " +
    "checkpointed cell synopsis — zero parquet scans, broadcast-only " +
    "joins in the final frame") {
    val plan = executedPlan("sample_raking_ipf")
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("FileScan parquet") &&
      !plan.contains("Scan parquet"),
      s"an IPF round re-scanned the corpus instead of the synopsis:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("CartesianProduct"),
      s"a marginal join shuffled the synopsis:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 6,
      s"expected 6 broadcast marginal joins (2 per round x 3):\n$plan")
  }

  /** Forced-hint census of a key's ANALYZED plan — the logical hints
    * the author wrote, before AQE/optimizer decisions. The hint
    * policy (Tables.scala) is about what is FORCED, not what the
    * runtime picks: AQE converting a small shuffle to a broadcast at
    * test scale is exactly the size-checked behavior the policy wants,
    * so executed-plan BroadcastHashJoin counts cannot pin it. */
  private def resolvedHints(name: String) = {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.analyzed.collect { case h: ResolvedHint => h }
  }

  test("retrieval probe/vocab joins carry no forced broadcast hints " +
    "(r11, VERDICT r10 #1: probe postings are a corpus-proportional " +
    "slice and the idf synopsis is vocab-grain/Heaps-law — only " +
    "provably bounded synopses may keep hints)") {
    // bm25Pairs hints ONLY the 1-row (nc, avgdl) corpus synopsis —
    // since the rare-term backstop it is crossJoined on both the
    // cut branch and the backstop branch, so pin the POLICY (every
    // hint sits on the synopsis) rather than a fragile node count.
    // probes (%97 slice), dfKeep (vocab-grain) and the
    // candidate-length join are hint-free.
    //
    // the declared keys END-PIN the pair frames
    // (eager checkpoint + synopsis free), so the keys' analyzed
    // trees root at a LogicalRDD and no longer show the authored
    // hints — the audit therefore pins the LAZY pair builders
    // (bm25PairsOn / cosPairsOn), which are exactly the plans the
    // pinned keys execute at construction.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    import graft.operators.Analytics6
    def hintsOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    val bmPlan = Analytics6.bm25PairsOn(Analytics6.bm25Postings(spark, sf))
    val bmHints = hintsOf(bmPlan)
    assert(bmHints.nonEmpty,
      "bm25 pair builder should hint the 1-row nAvg synopsis")
    for (h <- bmHints) {
      val out = h.child.output.map(_.name)
      assert(out == Seq("nc", "avgdl"),
        s"bm25 pair builder: forced hint on a non-synopsis frame " +
          s"(output ${out.mkString(",")})")
    }
    // embedding arm: every hint must sit on a bounded synopsis (the
    // 1-row nc aggregate or the ≤256-row dim keep-list), never on
    // probe postings (pid/dim/pc outputs).
    val cosPlan = Analytics6.cosPairsOn(Analytics6.cosEmbeddings(spark, sf))
    for (h <- hintsOf(cosPlan)) {
      val out = h.child.output.map(_.name)
      assert(out == Seq("nc") || out == Seq("dim"),
        s"cos pair builder: forced hint on a non-bounded frame " +
          s"(output ${out.mkString(",")})")
    }
    // semantics unchanged by the hint removal: same pair universe,
    // no cartesian introduced by the hint-free equi-joins
    bmPlan.collect() // finalize AQE
    val plan = bmPlan.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"hint-free term join must stay an equi-join:\n$plan")
  }

  /** True iff this forced hint's subtree reaches an sf-scaling table
    * scan. Detection is by leaf OUTPUT ATTRIBUTE NAMES: logical
    * leaves stringify as `Relation [c_custkey#…] parquet` with no table name, so `toString.contains("customer")`
    * never matches and a path-string check was vacuous. Attribute
    * names are stable table fingerprints — the analyzed (pre-pruning)
    * leaf carries the full fixture schema, so the key columns of every
    * sf-scaling table are always present in its leaf output. */
  private val sfScalingKeyCols = Set(
    "c_custkey", "s_suppkey", "p_partkey", "o_orderkey", "l_orderkey",
    "doc_id", "vec_id", "event_id")
  private def hintsSfScalingTable(
      h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint)
      : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Filter, Window => LWindow}
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, EqualTo, RowNumber, WindowExpression}
    // An Aggregate between hint and leaf means the hinted frame is a
    // synopsis whose cardinality is the group count, not the table —
    // the policy permits those (1-row corpus stats, k-row model
    // tables) even when computed FROM an sf-scaling table. Flag only
    // hints whose subtree reaches an sf-scaling leaf through
    // non-aggregating operators (project/filter/join/etc.).
    // Deduplicate is the distinct-grain analog: its cardinality is
    // the distinct-value count of its keys (e.g. the ≤5 market
    // segments in the pairwise s1<s2 frames), not the table.
    val hasAgg = h.child.collect {
      case a: Aggregate => a; case dd: Deduplicate => dd
    }.nonEmpty
    // A rank-pinning reduction — Filter(rk = expr) where rk is a
    // row_number() window output — selects at most ONE row per window
    // partition, so the hinted frame is group-grain exactly like an
    // Aggregate (the agg_winsorized_mean [p05,p95] picks: ≤2 rows per
    // segment, constant in sf). Only EQUALITY on row_number qualifies;
    // a range filter (rk <= n/2) stays corpus-proportional and is
    // still flagged.
    val rankAttrs = h.child.collect {
      case w: LWindow => w.windowExpressions.collect {
        case a @ Alias(we: WindowExpression, _)
            if we.windowFunction.isInstanceOf[RowNumber] => a.exprId
      }
    }.flatten.toSet
    val hasRankPin = h.child.collect {
      case f: Filter => f.condition.collect {
        case EqualTo(ar: AttributeReference, _)
            if rankAttrs.contains(ar.exprId) => true
        case EqualTo(_, ar: AttributeReference)
            if rankAttrs.contains(ar.exprId) => true
      }
    }.flatten.nonEmpty
    !hasAgg && !hasRankPin && h.child.collectLeaves()
      .exists(_.output.exists(a => sfScalingKeyCols.contains(a.name)))
  }

  test("sf-scaling dimension joins carry no forced broadcast hints " +
    "(r11 hint-policy audit, VERDICT r10 #3: customer/supplier grow " +
    "linearly with sf — AQE's size check decides at runtime)") {
    // Negative control FIRST: a deliberately forced
    // broadcast(customer) join must be flagged by the detector, or the
    // audit below proves nothing.
    val control = broadcast(graft.Tables.customer(spark, sf))
      .join(graft.Tables.orders(spark, sf),
        col("c_custkey") === col("o_custkey"))
    val controlHints = control.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(controlHints.nonEmpty && controlHints.exists(hintsSfScalingTable),
      "negative control failed: detector did not flag a forced " +
        "broadcast(customer) — the audit would be vacuous")
    // Second negative control: an sf-scaling
    // NON-TPCH table — embeddings keys on vec_id, and an earlier detector
    // listed a column name ("emb_id") that does not exist in the
    // fixture schema, so embedding-side hints were structurally
    // unflaggable. Force broadcast(embeddings) and require a flag.
    val controlEmb = broadcast(graft.Tables.embeddings(spark, sf))
      .join(graft.Tables.documents(spark, sf),
        col("vec_id") === col("doc_id"))
    val controlEmbHints = controlEmb.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(controlEmbHints.nonEmpty &&
      controlEmbHints.exists(hintsSfScalingTable),
      "negative control failed: detector did not flag a forced " +
        "broadcast(embeddings) — the vec_id fingerprint is wrong")

    // the 16 audited sites (12 in Analytics5, 2 in Analytics6, 2 in
    // Features) — every key whose segment/acctbal lookup previously
    // forced broadcast(customer) or broadcast(supplier)
    val audited = Seq(
      "agg_pythagorean_means", "analytics_theil_decomposition",
      "analytics_hhi_concentration", "stage_incremental_agg_maintenance",
      "agg_winsorized_mean", "agg_winsorized_approx",
      "timeseries_max_drawdown", "profile_correlation_matrix",
      "analytics_ks_test", "analytics_ks_sketch",
      "analytics_mann_whitney", "analytics_chi2_independence",
      "window_pattern_vshape", "timeseries_sax_words",
      "feature_target_encode", "pipeline_feature_e2e",
      // the one site the first grep missed — broadcast() wrapped a
      // derived projection of orders/customer/part, not Tables.* —
      // now hint-free and pinned here
      "dq_referential_integrity")
    for (k <- audited) {
      val bad = resolvedHints(k).filter(hintsSfScalingTable)
      assert(bad.isEmpty,
        s"$k: forced broadcast hint on an sf-scaling table — the " +
          s"hint policy (Tables.scala) reserves hints for frames with " +
          s"a size contract independent of corpus size")
    }
  }

  test("board-wide standing audit: every global logical Window rides " +
      "a bounded synopsis-grain frame — no unpartitioned WindowExec " +
      "over table-proportional input") {
    // The scale-killer class ScaleRank exists for: a Window with
    // an empty (or all-foldable, e.g. lit(1)) partitionSpec moves its
    // ENTIRE input onto one partition. That is only acceptable when
    // the frame is bounded by something other than the data volume.
    // This audit walks EVERY registered key's optimized logical plan
    // and requires any key containing a global Window to appear in
    // WindowAudit.exemptions with its grain bound; exact set
    // equality both ways keeps the list honest (no stale entries).
    //
    // Frames materialized by an eager localCheckpoint during key
    // CONSTRUCTION appear as LogicalRDD, so windows inside
    // already-executed iterative rounds are invisible to this logical
    // walk. The PHYSICAL sweep (WindowAudit) closes that blind spot in
    // the same pass: its listener sees every execution that `fn`
    // runs, checkpoint interiors included, and the swept keys'
    // collects. Both read the exemption map from main scope so they
    // can never disagree about what is exempt.
    //
    // The same pass checks that every key is hermetic: constructing it
    // leaves the session's SQL conf, temp views and temp functions
    // exactly as it found them (SessionScope), so no key can change
    // what a later key sees. All three checks read the shared board
    // construction in BoardPass.
    val exempt: Map[String, String] = WindowAudit.exemptions
    val pass = BoardPass.record
    val flagged = pass.globalWindowKeys
    val leaks = pass.residue
    assert(leaks.isEmpty,
      s"${leaks.size} key(s) left session state behind:\n" +
        leaks.mkString("\n"))
    val (sweepLines, novel) = pass.sweep
    info(s"physical sweep: ${sweepLines.size} distinct single-partition " +
      s"window shape(s), ${novel.size} NOVEL")
    assert(novel.isEmpty,
      s"physical sweep: ${novel.size} NOVEL single-partition window " +
        s"shape(s) inside key construction (fix, or classify with its " +
        s"grain bound in WindowAudit):\n" +
        sweepLines.filter(_.startsWith("NOVEL")).mkString("\n"))
    assert((flagged -- exempt.keySet).isEmpty,
      s"keys with a NEW global window and no exemption (use " +
        s"ScaleRank.withGlobalRank/withGlobalCumsum, a 1-row broadcast " +
        s"aggregate, or orderBy().limit(), or justify the grain here): " +
        s"${(flagged -- exempt.keySet).toSeq.sorted}")
    assert((exempt.keySet -- flagged).isEmpty,
      s"stale exemptions (key no longer has a global window — prune): " +
        s"${(exempt.keySet -- flagged).toSeq.sorted}")
  }
}
