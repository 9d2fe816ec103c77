package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Single-partition-window audit (r15, VERDICT r14 #3).
  *
  * Two layers share the exemption table below:
  *
  * 1. The LOGICAL audit (PlanShapeSpec) walks every key's optimized
  *    plan and requires any empty-partitionSpec Window to be exempted
  *    with its grain bound. Blind spot: frames materialized by an
  *    eager localCheckpoint during key construction appear as
  *    LogicalRDD leaves, so windows inside iterative rounds never
  *    reach that walk.
  * 2. The PHYSICAL sweep here closes that blind spot: a
  *    QueryExecutionListener sees EVERY execution — including each
  *    localCheckpoint materialization's own plan — and records any
  *    WindowExec / WindowGroupLimitExec whose partitionSpec is empty
  *    (or all-foldable), attributed to the key running at fire time.
  *    PlanShapeSpec's board audit runs it around every key's
  *    construction and requires [[report]] to find no NOVEL shape;
  *    the r15 sweep results are recorded in PLANS.md.
  *
  * Attribution note: the listener bus is asynchronous, so the caller
  * drains it before moving `currentKey` to the next key.
  */
object WindowAudit {

  /** key → grain bound justifying its global window(s). Exact set
    * equality with the logical audit's findings is enforced by
    * PlanShapeSpec; the physical sweep additionally allows the
    * [[interiorExemptions]] below (checkpoint-interior windows the
    * logical walk cannot see). */
  val exemptions: Map[String, String] = Map(
    "agg_gini_split_scan" ->
      "ScaleRank count synopsis (≤ shuffle.partitions rows) + 19-row threshold frame",
    "analytics_association_rules" -> "post-LIMIT top-20 rank",
    "analytics_chi2_independence" -> "5x5 contingency-cell frame",
    "analytics_daily_active_growth" -> "day-grain series (calendar-bounded)",
    "analytics_lorenz_gini" -> "ScaleRank count synopsis",
    "analytics_pareto_skyline" -> "per-range-partition skyline merge synopsis",
    "analytics_rfm" -> "ScaleRank count synopsis (x3 ntile passes)",
    "analytics_session_stats" -> "ScaleRank count synopsis",
    "analytics_theil_decomposition" -> "5-group segment frame",
    "dq_benford_test" -> "9 leading-digit rows",
    "dq_psi_drift" -> "10 histogram buckets",
    "feature_woe_encode" -> "bounded category frame",
    "graph_community_labelprop" -> "post-LIMIT top-20 rank",
    "graph_modularity" -> "post-LIMIT top-15 rank",
    "sample_low_discrepancy_vdc" ->
      "ScaleRank synopsis + kept-rank boundary envelope",
    "sample_pps_systematic" -> "ScaleRank cumsum offset synopsis",
    "sample_weighted_reservoir" -> "post-LIMIT 25-row rank",
    "stream_ann_index_maintain" -> "post-LIMIT top-10 rank",
    "text_bigram_generate" -> "vocab-grain chain state (Heaps-bounded)",
    "text_bpe_train_rounds" -> "merge-pair candidate synopsis (vocab-bounded)",
    "text_ngram_coverage_curve" -> "vocab-grain coverage curve (Heaps-bounded)",
    "text_perplexity_buckets" -> "vocab-grain LM table (Heaps-bounded)",
    "text_unigram_logprob" -> "vocab-grain LM table (Heaps-bounded)",
    "text_vocab_oov_rate" -> "vocab-grain (Heaps-bounded)",
    "window_cume_dist" -> "ScaleRank count synopsis",
    "window_rolling_distinct" -> "day-grain rolling frame (calendar-bounded)")

  /** Checkpoint-INTERIOR global windows the physical sweep is allowed
    * to see under these keys — each bound by an iteration-synopsis
    * grain, populated from sweep runs (see PLANS.md r15). */
  val interiorExemptions: Map[String, String] = Map.empty

  /** Bounded-by-construction window SHAPES. The listener bus is
    * async, so key attribution smears onto neighbours when a key
    * fires many small executions (the r15 sweep attributed
    * text_bpe_train_rounds' pair window to stream_session_window);
    * classification therefore goes by the window's own description
    * first — these substrings identify frames whose size is bounded
    * by config or vocabulary, never by data volume — and falls back
    * to the per-key exemption maps only for unmatched shapes. */
  val boundedWindowPatterns: Seq[(String, String)] = Seq(
    "ORDER BY gr_pid" ->
      "ScaleRank rank-offset synopsis (<= shuffle.partitions rows)",
    "ORDER BY gc_pid" ->
      "ScaleRank cumsum-offset synopsis (<= shuffle.partitions rows)",
    "ORDER BY cw DESC" ->
      "vocab-grain bigram chain state (Heaps-bounded)",
    "ORDER BY c DESC NULLS LAST, w ASC" ->
      "vocab-grain LM/coverage rank (Heaps-bounded)",
    "ORDER BY wt DESC" ->
      "BPE merge-pair candidate synopsis (vocab-bounded)",
    "max(qty_c)" ->
      "pareto-skyline per-range-partition merge synopsis",
    "UNBOUNDED FOLLOWING) AS nv" ->
      "coverage-curve vocab count (Heaps-bounded)")

  /** All WindowExec-family nodes with an empty/foldable partitionSpec
    * anywhere in the executed plan, descending through adaptive query
    * stages and reused exchanges (QueryStageExec is a LeafExecNode —
    * plain collect stops there). */
  def singlePartitionWindows(plan: SparkPlan): Seq[String] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val expanded = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case other => other.children
      }
      p +: expanded.flatMap(walk)
    }
    walk(plan).collect {
      case w: WindowExec
          if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        s"WindowExec[${w.windowExpression.map(_.sql).mkString(";").take(120)}]"
      case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) =>
        s"WindowGroupLimitExec[limit=${w.limit}]"
    }
  }

  /** (key, nodeDescription) → occurrence count. */
  val findings: TrieMap[(String, String), Long] = TrieMap.empty
  @volatile var currentKey: String = "<init>"

  /** Registers the sweep listener; the caller unregisters it. */
  def register(spark: SparkSession): QueryExecutionListener = {
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val hits = try singlePartitionWindows(qe.executedPlan)
          catch { case _: Throwable => Seq.empty }
        val k = currentKey
        hits.foreach { h =>
          val kk = (k, h)
          findings.put(kk, findings.getOrElse(kk, 0L) + 1L)
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    l
  }

  /** Summarize findings → (report lines, novel descriptions).
    * One line per DISTINCT window description (attribution keys are
    * hints only — see [[boundedWindowPatterns]]): bounded-shape →
    * the matched grain bound; unmatched shape under an exempt key →
    * exempt-key; anything else → NOVEL (investigate, then fix or add
    * a pattern/exemption with its grain bound). */
  def report(): (Seq[String], Set[String]) = {
    val byDesc = findings.keys.groupBy(_._2).map { case (d, ks) =>
      d -> ks.map(_._1).toSeq.distinct.sorted
    }
    val allowedKeys = exemptions.keySet ++ interiorExemptions.keySet +
      "<init>"
    val novel = scala.collection.mutable.Set.empty[String]
    val lines = byDesc.toSeq.sortBy(_._1).map { case (d, ks) =>
      val tag = boundedWindowPatterns.find(p => d.contains(p._1)) match {
        case Some((_, reason)) => s"bounded\t$reason"
        case None if ks.forall(allowedKeys) => "exempt-key\t-"
        case None => novel += d; "NOVEL\t-"
      }
      s"$tag\t${ks.mkString(",")}\t$d"
    }
    (lines, novel.toSet)
  }
}
