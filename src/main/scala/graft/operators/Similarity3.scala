package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Ckpt, SessionScope, Tables}

/** Graph-based ANN (r12, VERDICT r11 #1) — the FOURTH ANN family
  * beside sign-LSH (`sim_lsh_ann`), IVF (`sim_ivf_ann`), and
  * matryoshka prefix retrieval (`sim_matryoshka_truncate`): a
  * bounded-out-degree neighbor graph (the NSW/HNSW base-layer idea —
  * Malkov & Yashunin 2016, arXiv:1603.09320) built in FIXED relational
  * rounds, searched by FIXED-round greedy beam expansion, and
  * MAINTAINED incrementally (`sim_graph_ann_insert`: beam-place a
  * new-arrival batch on the existing graph + reverse-attach — the
  * full index lifecycle, never a corpus rebuild per batch).
  *
  * Sequential NSW insertion is inherently serial, so the build is
  * re-expressed as relational NN-DESCENT (Dong, Moses & Li, WWW'11,
  * "Efficient K-Nearest Neighbor Graph Construction for Generic
  * Similarity Measures"): seed each node's M-neighbor list from a
  * deterministic TWO-FAMILY block join, then improve it for T rounds
  * with the NN-descent step — symmetrize the edge list (u = e ∪ eᵀ:
  * without the reverse orientation the 2-hop join misses sibling
  * pairs x←v→y, the paper's core source of candidates — measured
  * here: fwd-only descent made ZERO progress over the seed), then
  * candidates = u ∪ (u ⋈ u), re-ranked by cosine, cut back to M.
  * Each round is joins + one per-node top-M window: shuffle count =
  * round count (the graph_kcore Pregel budget), each round's edge
  * list localCheckpoint'ed so the lazy plan can't grow geometrically
  * (the graph_kcore lesson).
  *
  * Seed connectivity matters more than seed quality: a single
  * id-range blocking partitions the graph into DISJOINT components
  * and NN-descent can never cross them (measured: graph quality
  * frozen at the seed's 0.055 through 5 rounds). The fix is a second,
  * INDEPENDENT block family — md5-hash blocks of the same bounded
  * width (nb = ⌈N/B⌉ buckets of the 48-bit id hash, so ~B members
  * each at ANY corpus size; an id-mod-B family would grow its blocks
  * linearly with N). Two size-B clique families whose memberships are
  * independent make the union connected w.h.p. — the same md5-coin
  * integer the sample_time_decay key mirrors, so the oracle replays
  * the seed exactly.
  *
  * Search is greedy BEAM expansion from 8 fixed entry nodes (the
  * first member of the first 8 id-blocks): each of R rounds expands
  * the beam's out-edges, re-scores beam ∪ expansion against the
  * query, keeps top-ef (round(cos,4) DESC, node — the family-wide
  * determinism convention). Per query per round the expansion is
  * ≤ ef·M rows — O(R·ef·M) scored vectors per query INDEPENDENT of
  * corpus size, THE property that distinguishes this family at
  * 100 TB: LSH/IVF probes scan a corpus-proportional bucket/cell
  * slice, graph search touches a constant number of nodes (the edge
  * list lives partitioned by source id; each hop is one
  * co-partitioned equi-join).
  *
  * Geometry M=14 × T=2 × R=5 × ef=32 × 8 entries, measured by
  * sim_graph_recall_eval (mean recall@10 over the 5-query batch,
  * DuckDB replica sweep; a LARGER M with FEWER rounds dominates the
  * M=12×T=4 shape on both recall and cost — bigger per-round pools
  * converge faster): sf0.01 → 1.00, sf0.1 → 0.86 — clears the
  * §7.4 ≥ 0.70 gate at both scales on the fixture's NEAR-RANDOM
  * embeddings (true-top-10 cosines only 0.24–0.40 — the hardest
  * case for greedy navigation; clustered real corpora over-deliver
  * and R/ef can drop). Build cost: seed ≈ 2·N·B pairs, descent
  * ≤ N·(2M + (2M)²/2) candidates/round — linear in N, never
  * all-pairs.
  *
  * Oracle: the ENTIRE build + search replays in DuckDB as a chained
  * MATERIALIZED-CTE program (the graph_wcc/kcore precedent;
  * MATERIALIZED or the inliner re-expands each round's edge CTE per
  * reference and dies the exponential death the Spark side's
  * checkpoints prevent), with the index-order left-fold cosine the
  * whole Similarity area mirrors bit-for-bit.
  */
object Similarity3 {
  type Q = (SparkSession, String) => DataFrame

  /** Out-degree bound M: each node keeps its M best neighbors. */
  private val M = 14
  /** Block width B for BOTH seed families (id-range and hash). */
  private val BLOCK = 25
  /** NN-descent improvement rounds. */
  private val T = 2
  /** Beam expansion rounds. */
  private val R = 5
  /** Beam width. */
  private val EF = 32
  /** Entry nodes: first member of the first NENT id-blocks. */
  private val NENT = 8
  /** Insert-batch size for sim_graph_ann_insert (the INS highest ids
    * play "today's arrivals"; the rest are yesterday's corpus). */
  private val INS = 50

  /** Run `body` at 4 shuffle partitions (restored after): every frame
    * in the build/search is ≤ ~N·(2M)² tiny (id, id) rows, and the
    * T+R fixed rounds each shuffle — at the session's 32 partitions
    * the per-round empty-task overhead dominates wall-clock (the
    * sim_ivf_ann fit-loop lesson; with the M=14×T=2 geometry the two
    * keys bench 4.4 s + 8.2 s at sf0.1). The returned plan is already
    * materialized by the final localCheckpoint, so nothing escapes
    * the conf scope.
    *
    * r15 note (guide §1): an AQE-off variant of this scope was built
    * and MEASURED — it cut the job count 66 → 27 for sim_graph_ann
    * but raised summed task time 7.8 → 19.6 s and shuffle bytes
    * 24 → 34 MB (AQE's runtime BHJ conversion and partition
    * coalescing are doing real work in the seed/descent joins, whose
    * sides are only broadcastable at fixture scale). Rejected: AQE
    * stays ON — scale-adaptive at fixture AND cluster scale. */
  private def withFewPartitions[A](s: SparkSession)(body: => A): A =
    SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "4")(body)

  /** Re-rank candidate pairs (a, b) to each a's top-M by cosine,
    * scoring against `e` (vec_id, embedding); keeps `cos`. Accepts a
    * candidate MULTISET: dedup happens here, on the SAME exchange the
    * top-M window needs (r15, guide §2.4 "two operations keyed the
    * same way can share one exchange") — repartition by `a`, dedup
    * (a, b) under that partitioning (HashPartitioning(a) satisfies
    * ClusteredDistribution(a, b): equal pairs are colocated), then
    * the per-a window runs exchange-free. One shuffle per round where
    * the old distinct().window() shape paid two. Per-a fan-in stays
    * bounded (≤ (2M)² + seed blocks), so the single-key partitioning
    * is skew-safe at any corpus size. */
  private def topMFor(e: DataFrame)(cand: DataFrame): DataFrame = {
    val wA = Window.partitionBy("a")
      .orderBy(round(col("cos"), 4).desc, col("b"))
    cand
      .repartition(col("a"))
      .dropDuplicates("a", "b")
      .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), Seq("b"))
      .withColumn("cos", expr("cosine_sim(ea, eb)"))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") <= M)
      .select(col("a"), col("b"), col("cos"))
  }

  /** The bounded-degree neighbor graph: (a, b) with ≤ M rows per a. */
  private[graft] def graphEdges(s: SparkSession, d: String): DataFrame =
    withFewPartitions(s) { graphEdgesImpl(s, d) }

  private def graphEdgesImpl(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    buildEdges(embeddingsOnce(s, d))
  }

  /** The (vec_id, embedding) projection, materialized ONCE per key
    * (r15, guide §2.3/§5): every topM round joins it twice and every
    * beam round once — ~25 parquet re-scans per key before this.
    * localCheckpoint keeps the statically-planned broadcast (probed:
    * BHJ chosen against scan, cache and checkpoint alike). */
  private def embeddingsOnce(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      .localCheckpoint()

  /** NN-descent build over an arbitrary (vec_id, embedding) frame —
    * the base-corpus parameter is what lets sim_graph_ann_insert
    * build on yesterday's corpus and place today's batch. */
  private def buildEdges(e: DataFrame): DataFrame = {
    def topM(cand: DataFrame): DataFrame =
      topMFor(e)(cand).select(col("a"), col("b"))
    // two-family seed blocks: id-range + hash (see Scaladoc)
    val cnt = e.agg(count(lit(1)).as("nv"))
    val hb = e.select(col("vec_id")).crossJoin(broadcast(cnt))
      .select(col("vec_id"),
        expr(s"CAST(vec_id div $BLOCK AS BIGINT)").as("dblk"),
        expr(s"""CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 12),
                      16, 10) AS BIGINT)
                 % ((nv + ${BLOCK - 1}) div $BLOCK)""").as("hblk"))
    def blockPairs(k: String): DataFrame =
      hb.select(col("vec_id").as("a"), col(k))
        .join(hb.select(col("vec_id").as("b"), col(k)), Seq(k))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b"))
    // candidate pools flow to topM as MULTISETS — topMFor dedups on
    // the window's own exchange (one shuffle per round, not two)
    val seedCand = blockPairs("dblk").union(blockPairs("hblk"))
    var edges = topM(seedCand).localCheckpoint()
    for (_ <- 1 to T) {
      // symmetrize, then pool = u ∪ (u ⋈ u) — full NN-descent step
      val u = edges
        .union(edges.select(col("b").as("a"), col("a").as("b")))
        .distinct()
      val cand = u
        .union(u.as("e1")
          .join(u.as("e2"), col("e1.b") === col("e2.a"))
          .select(col("e1.a").as("a"), col("e2.b").as("b")))
        .filter(col("a") =!= col("b"))
      val next = topM(cand).localCheckpoint()
      // r15 #5: the superseded round's blocks are dead the moment the
      // next round's eager checkpoint materializes — free them instead
      // of pinning every interior round for the session
      Ckpt.free(edges)
      edges = next
    }
    edges
  }

  /** Greedy beam search: (qid, node, cos) — the top-EF beam after R
    * expansion rounds, for the 5 fixture query vectors. */
  private[graft] def graphSearch(s: SparkSession, d: String): DataFrame =
    withFewPartitions(s) { graphSearchImpl(s, d) }

  private def graphSearchImpl(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = embeddingsOnce(s, d)
    val out = graphSearchOn(e)
    // the returned plan reads only the final beam checkpoint; the
    // embeddings projection's last consumer was the (eager) final beam
    // round, so its blocks are dead here (r15 #5). NOT freed in
    // sim_graph_recall_eval, whose truth leg still references e lazily.
    Ckpt.free(e)
    out
  }

  /** Search over an ALREADY-materialized (vec_id, embedding) frame —
    * lets sim_graph_recall_eval share ONE embeddingsOnce
    * materialization between its brute-force-truth leg and the
    * graph-search leg (r15, guide §2.4: the truth leg otherwise
    * re-scanned the embeddings parquet while the search leg read its
    * own checkpoint of the same projection). */
  private def graphSearchOn(e: DataFrame): DataFrame = {
    val edges = buildEdges(e)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val entry = e.filter(pmod(col("vec_id"), lit(BLOCK)) === 0
        && col("vec_id") < BLOCK * NENT)
      .select(col("vec_id").as("node"))
    val out = beamSearch(e, edges, q, entry)
    // the beam rounds (each an eager checkpoint) were the edge list's
    // last consumer; the returned frame reads only the final beam
    Ckpt.free(edges)
    out
  }

  /** R-round greedy beam over `edges` for query frame `q` (qid, qe),
    * seeded with every query × every `entry` node; scores against `e`.
    *
    * r16 (VERDICT r15 #2, guide §2.3 "shuffle keys and metadata
    * instead of payloads"): the candidate multiset used to carry qe —
    * a 64-float payload functionally dependent on qid — on EVERY row
    * through each round's repartition(qid) exchange and into every
    * beam checkpoint (insert places INS=50 queries: ~24k candidate
    * rows × ~300 B of qe per round). Candidates now flow as bare
    * (qid, node) ids; qe is joined back from the ≤INS-row broadcast
    * `q` AFTER the dedup, so the exchange and the checkpoints carry
    * ids only. Same (qid, node) set scored, same cosine inputs —
    * results identical. The R and entry-layer alternatives measured
    * in r13 are recorded in PLANS.md. */
  private def beamSearch(e: DataFrame, edges: DataFrame, q: DataFrame,
      entry: DataFrame): DataFrame = {
    val wQ = Window.partitionBy("qid")
      .orderBy(round(col("cos"), 4).desc, col("node"))
    // rescore accepts a candidate MULTISET and dedups (qid, node) on
    // the top-EF window's own exchange — repartition by qid, dedup
    // under that partitioning, window exchange-free (r15, guide §2.4;
    // the topMFor twin). Both payload joins (ne per candidate node,
    // qe per query) are broadcast-sized and partitioning-preserving,
    // so the window still runs exchange-free.
    def rescore(cand: DataFrame): DataFrame = cand
      .repartition(col("qid"))
      .dropDuplicates("qid", "node")
      .join(e.select(col("vec_id").as("node"), col("embedding").as("ne")),
        Seq("node"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("cos", expr("cosine_sim(qe, ne)"))
      .withColumn("rk", row_number().over(wQ))
      .filter(col("rk") <= EF)
      .select(col("qid"), col("node"), col("cos"))
    var beam = rescore(q.select(col("qid")).crossJoin(entry)).localCheckpoint()
    for (_ <- 1 to R) {
      val expanded = beam.select(col("qid"), col("node"))
        .join(edges, col("node") === col("a"))
        .select(col("qid"), col("b").as("node"))
      val cand = beam.select(col("qid"), col("node"))
        .union(expanded)
      val next = rescore(cand).localCheckpoint()
      Ckpt.free(beam) // superseded beam round (r15 #5)
      beam = next
    }
    beam.select(col("qid"), col("node"), col("cos"))
  }

  val queries: Map[String, Q] = Map(
    // Graph-ANN top-3 — same report shape as sim_cosine_topk /
    // sim_ivf_ann so the four families are directly comparable.
    "sim_graph_ann" -> ((s, d) => {
      val wr = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("node"))
      graphSearch(s, d)
        .filter(col("node") =!= col("qid"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("node").as("vec_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rank")
    }),

    // Recall@10 of the graph beam vs brute-force truth — the tuning
    // harness row for the M/T/R/ef knobs (the sim_ann_recall_eval
    // contract: the only brute-force leg is the 5-query broadcast
    // batch; the candidate leg reuses the graph search).
    // r15 (guide §2.4): the whole key runs inside ONE withFewPartitions
    // scope and ONE embeddingsOnce materialization — the truth leg
    // previously re-scanned the embeddings parquet (4 scans in the
    // executed plan) while graphSearch read its own checkpoint of the
    // exact same projection.
    "sim_graph_recall_eval" -> ((s, d) => withFewPartitions(s) {
      graft.functions.GraftFunctions.register(s)
      val e = embeddingsOnce(s, d)
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val wt = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      val truth = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rank", row_number().over(wt))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("vec_id"))
      val wr = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("node"))
      val got = graphSearchOn(e)
        .filter(col("node") =!= col("qid"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("node").as("vec_id"))
        .withColumn("hit", lit(1))
      truth.join(got, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
        .select(col("qid"), col("n_true"), col("n_hit"),
          (col("n_hit") * lit(1.0) / col("n_true")).as("recall10"))
        .orderBy("qid")
    }),

    // Incremental insertion (r12) — the index-MAINTENANCE leg that
    // completes the family lifecycle (build → search → recall-eval →
    // insert), the relational form of HNSW's insertion path: the INS
    // highest ids play "today's arrivals", the rest is yesterday's
    // corpus whose graph is ALREADY BUILT. Each new vector is placed
    // by the same greedy beam over the BASE graph (cost O(R·ef·M)
    // per arrival — corpus-independent, the whole point: a daily
    // batch never re-runs NN-descent over the corpus), its top-M beam
    // hits become its out-edges, and the REVERSE-ATTACH step (the
    // HNSW bidirectional-link repair) re-ranks each touched base
    // node's list over old-neighbors ∪ new-arrival candidates, cut
    // back to M — so arrivals become REACHABLE, not just placed
    // (without reverse links a new node has in-degree 0 and search
    // can never return it). Declared output: top-3 placements for the
    // 5 lowest arrival ids + the count of base nodes whose lists
    // actually rewired (the census that proves the attach step did
    // work — folded into every row so the hash covers it).
    "sim_graph_ann_insert" -> ((s, d) => withFewPartitions(s) {
      graft.functions.GraftFunctions.register(s)
      val all = embeddingsOnce(s, d)
      // 1-row corpus count pinned EAGERLY so the output's broadcast of
      // it stops holding the full embeddings checkpoint alive (r15 #5)
      val cnt = all.agg(count(lit(1)).as("nv")).localCheckpoint(true)
      val withN = all.crossJoin(broadcast(cnt))
      val base = withN.filter(col("vec_id") < col("nv") - INS)
        .select(col("vec_id"), col("embedding"))
      val batch = withN.filter(col("vec_id") >= col("nv") - INS)
      val edges = buildEdges(base)
      val q = batch.select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val entry = base.filter(pmod(col("vec_id"), lit(BLOCK)) === 0
          && col("vec_id") < BLOCK * NENT)
        .select(col("vec_id").as("node"))
      val beam = beamSearch(all, edges, q, entry)
      val wN = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("node"))
      val newEdges = beam.withColumn("rk", row_number().over(wN))
        .filter(col("rk") <= M)
        .select(col("qid").as("a"), col("node").as("b"), col("cos"))
        .localCheckpoint()
      // beam is a projection over exactly the placement beam's final
      // (eager) round, whose only consumer was newEdges above (r15 #5).
      // `edges` is NOT freed: the rewired census anti-joins it lazily.
      Ckpt.freeLeaves(beam)
      val rev = newEdges.select(col("b").as("a"), col("a").as("b"))
      val affected = rev.select("a").distinct()
      val updCand = edges.join(affected, Seq("a")).select("a", "b")
        .union(rev) // multiset — topMFor dedups on the window exchange
      val updated = topMFor(all)(updCand).localCheckpoint()
      // `updated` was the embeddings projection's last consumer (the
      // build, placement beam and reverse-attach re-rank are all
      // materialized; cnt is a 1-row checkpoint) — free it (r15 #5)
      Ckpt.free(all)
      val rewired = updated.select("a", "b")
        .join(edges, Seq("a", "b"), "left_anti")
        .agg(countDistinct(col("a")).as("n_base_rewired"))
      val wr = Window.partitionBy("a")
        .orderBy(round(col("cos"), 4).desc, col("b"))
      newEdges.crossJoin(broadcast(cnt))
        .filter(col("a") < col("nv") - (INS - 5))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .crossJoin(broadcast(rewired))
        .select(col("a").as("qid"), col("rank"), col("b").as("vec_id"),
          round(col("cos"), 4).as("cos"), col("n_base_rewired"))
        .orderBy("qid", "rank")
    }),

    // Tombstone deletion + hole repair (r12) — the DELETE leg that
    // completes the family's index CRUD (build → search → recall →
    // insert → delete), HNSW's deletion problem relationally: drop a
    // scattered 1/37 of the corpus (vec_id % 37 = 3 — disjoint from
    // the % BLOCK = 0 entry spine by arithmetic), then REPAIR every
    // surviving node whose out-list lost a neighbor by re-ranking
    // over (its surviving neighbors ∪ its deleted neighbors'
    // surviving neighbors) — the "route through the hole" rule that
    // keeps the graph navigable without touching unaffected nodes
    // (repair cost ∝ holes·M², corpus-independent — a tombstone
    // batch never rebuilds). Search then runs over the REPAIRED
    // graph from surviving entries: a deleted node can never be
    // returned because it exists neither as entry nor as any edge
    // target. Output: top-3 per query over the repaired graph +
    // (n_deleted, n_affected) census folded into every row.
    "sim_graph_ann_delete" -> ((s, d) => withFewPartitions(s) {
      graft.functions.GraftFunctions.register(s)
      val all = embeddingsOnce(s, d)
      def isDel(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        pmod(c, lit(37)) === 3
      val edges = buildEdges(all)
      val live = edges.filter(!isDel(col("a"))).localCheckpoint()
      val holes = live.filter(isDel(col("b")))
      val keepE = live.filter(!isDel(col("b")))
      val affected = holes.select("a").distinct()
      val viaDeleted = holes
        .join(edges.select(col("a").as("b"), col("b").as("c")), Seq("b"))
        .filter(!isDel(col("c")) && col("c") =!= col("a"))
        .select(col("a"), col("c").as("b"))
      val pool = keepE.join(affected, Seq("a")).select("a", "b")
        .union(viaDeleted) // multiset — topMFor dedups on the window exchange
      val repaired = topMFor(all)(pool).select("a", "b").localCheckpoint()
      // the full-corpus build's last consumer was `repaired` (via
      // viaDeleted; `live` was materialized earlier) — dead now (r15 #5).
      // `live` itself stays: the n_affected census references it lazily.
      Ckpt.free(edges)
      val finalEdges = keepE.join(affected, Seq("a"), "left_anti")
        .select("a", "b").union(repaired)
      val q = all.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val entry = all.filter(pmod(col("vec_id"), lit(BLOCK)) === 0
          && col("vec_id") < BLOCK * NENT && !isDel(col("vec_id")))
        .select(col("vec_id").as("node"))
      // 1-row censuses pinned EAGERLY so their output broadcasts stop
      // holding the embeddings / live-edge checkpoints alive (r15 #5)
      val nDel = all.filter(isDel(col("vec_id")))
        .agg(count(lit(1)).as("n_deleted")).localCheckpoint(true)
      val nAff = affected.agg(count(lit(1)).as("n_affected"))
        .localCheckpoint(true)
      val wr = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("node"))
      val searched = beamSearch(all, finalEdges, q, entry)
      // the beam rounds above were the last consumers of the repaired
      // edge set (via finalEdges), the tombstone-filtered live set and
      // the embeddings projection itself — the returned plan reads only
      // the final beam plus the two 1-row censuses (r15 #5)
      Ckpt.free(repaired, live, all)
      searched
        .filter(col("node") =!= col("qid"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .crossJoin(broadcast(nDel)) // 1-row census
        .crossJoin(broadcast(nAff)) // 1-row census
        .select(col("qid"), col("rank"), col("node").as("vec_id"),
          round(col("cos"), 4).as("cos"),
          col("n_deleted"), col("n_affected"))
        .orderBy("qid", "rank")
    }),
  )

  /** Index-order left-fold cosine between two `n`-CTE rows. */
  private def sqlCos(x: String, y: String): String =
    s"""list_aggregate(list_transform(range(1, 65),
          i -> $x.v[i] * $y.v[i]), 'sum') / ($x.nrm * $y.nrm)"""

  /** One top-M re-rank round: candidates `cand(a, b)` → `$out(a, b)`. */
  private def sqlTopM(out: String, cand: String): String =
    s"""$out AS MATERIALIZED (SELECT a, b FROM (
          SELECT c.a, c.b,
                 row_number() OVER (PARTITION BY c.a
                   ORDER BY round(${sqlCos("x", "y")}, 4) DESC, c.b) AS rn
          FROM $cand c JOIN n x ON x.vec_id = c.a
                       JOIN n y ON y.vec_id = c.b)
        WHERE rn <= $M)"""

  /** One beam round: candidates `cand(qid, node)` → `$out` with cos. */
  private def sqlBeam(out: String, cand: String): String =
    s"""$out AS MATERIALIZED (SELECT qid, node, cos FROM (
          SELECT c.qid, c.node, ${sqlCos("qn", "xn")} AS cos,
                 row_number() OVER (PARTITION BY c.qid
                   ORDER BY round(${sqlCos("qn", "xn")}, 4) DESC, c.node)
                   AS rn
          FROM $cand c JOIN n qn ON qn.vec_id = c.qid
                       JOIN n xn ON xn.vec_id = c.node)
        WHERE rn <= $EF)"""

  /** The shared build+search CTE chain ending in `beam$R(qid, node,
    * cos)` — used verbatim by both oracles so engine and oracle can
    * never diverge (the MirroredLsh.candidateSqlCtes pattern). The
    * 48-bit md5 integer is the sample_time_decay hex-fold mirror of
    * Spark's conv(substring(md5(id),1,12),16,10). */
  private val sqlU48 =
    """CAST(list_aggregate(list_transform(range(1, 13),
         j -> (strpos('0123456789abcdef',
                 substr(md5(CAST(vec_id AS VARCHAR)),
                        CAST(j AS INT), 1)) - 1)
              * pow(16, 12 - j)), 'sum') AS BIGINT)"""

  /** seed→e$T NN-descent chain (assumes hb is already defined). */
  private def sqlDescentChain: String = {
    val descent = (1 to T).map { r =>
      val prev = if (r == 1) "seed" else s"e${r - 1}"
      s"""u$r AS (SELECT a, b FROM $prev
                  UNION SELECT b AS a, a AS b FROM $prev),
         c$r AS (SELECT DISTINCT a, b FROM (
              SELECT a, b FROM u$r
              UNION ALL SELECT s1.a, s2.b
                        FROM u$r s1 JOIN u$r s2 ON s1.b = s2.a
                        WHERE s1.a <> s2.b)),
         ${sqlTopM(s"e$r", s"c$r")}"""
    }.mkString(",\n")
    s"""sc AS (SELECT DISTINCT a, b FROM (
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM hb x JOIN hb y
                ON x.dblk = y.dblk AND x.vec_id <> y.vec_id
              UNION ALL
              SELECT x.vec_id AS a, y.vec_id AS b
              FROM hb x JOIN hb y
                ON x.hblk = y.hblk AND x.vec_id <> y.vec_id)),
        ${sqlTopM("seed", "sc")},
        $descent"""
  }

  /** bc0→beam$R beam chain (assumes qv and ent are already defined);
    * `edgeTable` lets the delete key beam over the REPAIRED graph. */
  private def sqlBeamChain: String = sqlBeamChainOver(s"e$T")

  private def sqlBeamChainOver(edgeTable: String): String = {
    val beams = (1 to R).map { r =>
      val prev = if (r == 1) "beam0" else s"beam${r - 1}"
      s"""bc$r AS (SELECT DISTINCT qid, node FROM (
              SELECT qid, node FROM $prev
              UNION ALL SELECT p.qid, g.b AS node
                        FROM $prev p JOIN $edgeTable g ON p.node = g.a)),
         ${sqlBeam(s"beam$r", s"bc$r")}"""
    }.mkString(",\n")
    s"""bc0 AS (SELECT qid, node FROM qv, ent),
        ${sqlBeam("beam0", "bc0")},
        $beams"""
  }

  private def searchCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        n AS MATERIALIZED (SELECT vec_id, v,
              sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                AS nrm
            FROM e),
        cnt AS (SELECT count(*) AS nv FROM e),
        hb AS MATERIALIZED (SELECT vec_id,
              vec_id // $BLOCK AS dblk,
              $sqlU48 % ((nv + ${BLOCK - 1}) // $BLOCK) AS hblk
            FROM e CROSS JOIN cnt),
        $sqlDescentChain,
        qv AS (SELECT vec_id AS qid FROM e WHERE vec_id < 5),
        ent AS (SELECT vec_id AS node FROM e
                WHERE vec_id % $BLOCK = 0 AND vec_id < ${BLOCK * NENT}),
        $sqlBeamChain"""

  /** The insert variant: build on the base (all but the INS highest
    * ids), beam-place the batch (the INS highest ids) as queries. */
  private def insertCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        n AS MATERIALIZED (SELECT vec_id, v,
              sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                AS nrm
            FROM e),
        cnt AS (SELECT count(*) AS nv FROM e),
        eb AS (SELECT vec_id FROM e CROSS JOIN cnt
               WHERE vec_id < nv - $INS),
        cntb AS (SELECT count(*) AS nb FROM eb),
        hb AS MATERIALIZED (SELECT vec_id,
              vec_id // $BLOCK AS dblk,
              $sqlU48 % ((nb + ${BLOCK - 1}) // $BLOCK) AS hblk
            FROM eb CROSS JOIN cntb),
        $sqlDescentChain,
        qv AS (SELECT vec_id AS qid FROM e CROSS JOIN cnt
               WHERE vec_id >= nv - $INS),
        ent AS (SELECT vec_id AS node FROM eb
                WHERE vec_id % $BLOCK = 0 AND vec_id < ${BLOCK * NENT}),
        $sqlBeamChain"""

  /** The delete variant: full-corpus build, tombstone vec_id%37=3,
    * repair affected lists over survivor pools, beam the repaired
    * graph from surviving entries. */
  private def deleteCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        n AS MATERIALIZED (SELECT vec_id, v,
              sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                AS nrm
            FROM e),
        cnt AS (SELECT count(*) AS nv FROM e),
        hb AS MATERIALIZED (SELECT vec_id,
              vec_id // $BLOCK AS dblk,
              $sqlU48 % ((nv + ${BLOCK - 1}) // $BLOCK) AS hblk
            FROM e CROSS JOIN cnt),
        $sqlDescentChain,
        live AS MATERIALIZED (SELECT a, b FROM e$T WHERE a % 37 <> 3),
        holes AS (SELECT a, b FROM live WHERE b % 37 = 3),
        keepe AS (SELECT a, b FROM live WHERE b % 37 <> 3),
        aff AS (SELECT DISTINCT a FROM holes),
        viad AS (SELECT h.a, g.b FROM holes h JOIN e$T g ON g.a = h.b
                 WHERE g.b % 37 <> 3 AND g.b <> h.a),
        pool AS (SELECT DISTINCT a, b FROM (
              SELECT k.a, k.b FROM keepe k JOIN aff ON k.a = aff.a
              UNION ALL SELECT a, b FROM viad)),
        ${sqlTopM("rep", "pool")},
        redges AS MATERIALIZED (SELECT a, b FROM keepe
              WHERE a NOT IN (SELECT a FROM aff)
              UNION ALL SELECT a, b FROM rep),
        qv AS (SELECT vec_id AS qid FROM e WHERE vec_id < 5),
        ent AS (SELECT vec_id AS node FROM e
                WHERE vec_id % $BLOCK = 0 AND vec_id < ${BLOCK * NENT}
                  AND vec_id % 37 <> 3),
        ${sqlBeamChainOver("redges")}"""

  val oracles: Map[String, String] = Map(
    "sim_graph_ann" ->
      s"""WITH $searchCtes,
              rk AS (SELECT qid, node, cos,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, node) AS rn
                     FROM beam$R WHERE node <> qid)
         SELECT qid, CAST(rn AS INTEGER) AS rank, node AS vec_id,
                round(cos, 4) AS cos
         FROM rk WHERE rn <= 3 ORDER BY qid, rank""",
    "sim_graph_recall_eval" ->
      s"""WITH $searchCtes,
              q AS (SELECT vec_id AS qid, v AS qv,
                           sqrt(list_aggregate(list_transform(v,
                             x -> x * x), 'sum')) AS qnrm
                    FROM e WHERE vec_id < 5),
              truth AS (SELECT qid, vec_id FROM (
                          SELECT q.qid, x.vec_id,
                                 row_number() OVER (PARTITION BY q.qid
                                   ORDER BY round(
                                     list_aggregate(list_transform(
                                       range(1, 65),
                                       i -> q.qv[i] * x.v[i]), 'sum')
                                     / (q.qnrm * x.nrm), 4) DESC,
                                     x.vec_id) AS rn
                          FROM q JOIN n x ON x.vec_id <> q.qid)
                        WHERE rn <= 10),
              got AS (SELECT qid, node AS vec_id FROM (
                        SELECT qid, node, cos,
                               row_number() OVER (PARTITION BY qid
                                 ORDER BY round(cos, 4) DESC, node) AS rn
                        FROM beam$R WHERE node <> qid)
                      WHERE rn <= 10)
         SELECT t.qid, count(*) AS n_true,
                count(g.vec_id) AS n_hit,
                count(g.vec_id) * 1.0 / count(*) AS recall10
         FROM truth t LEFT JOIN got g
           ON g.qid = t.qid AND g.vec_id = t.vec_id
         GROUP BY t.qid ORDER BY t.qid""",
    "sim_graph_ann_insert" ->
      s"""WITH $insertCtes,
              newe AS MATERIALIZED (SELECT a, b, cos FROM (
                 SELECT qid AS a, node AS b, cos,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY round(cos, 4) DESC, node) AS rn
                 FROM beam$R) WHERE rn <= $M),
              rev AS (SELECT b AS a, a AS b FROM newe),
              aff AS (SELECT DISTINCT a FROM rev),
              updc AS (SELECT DISTINCT a, b FROM (
                 SELECT g.a, g.b FROM e$T g JOIN aff ON g.a = aff.a
                 UNION ALL SELECT a, b FROM rev)),
              ${sqlTopM("upd", "updc")},
              rw AS (SELECT count(DISTINCT u.a) AS n_base_rewired
                     FROM upd u LEFT JOIN e$T g
                       ON g.a = u.a AND g.b = u.b
                     WHERE g.a IS NULL),
              rep AS (SELECT a, b, cos,
                             row_number() OVER (PARTITION BY a
                               ORDER BY round(cos, 4) DESC, b) AS rn
                      FROM newe)
         SELECT a AS qid, CAST(rn AS INTEGER) AS rank, b AS vec_id,
                round(cos, 4) AS cos,
                CAST(n_base_rewired AS BIGINT) AS n_base_rewired
         FROM rep CROSS JOIN rw CROSS JOIN cnt
         WHERE rn <= 3 AND a < nv - ${INS - 5}
         ORDER BY qid, rank""",
    "sim_graph_ann_delete" ->
      s"""WITH $deleteCtes,
              nd AS (SELECT count(*) AS n_deleted FROM e
                     WHERE vec_id % 37 = 3),
              na AS (SELECT count(*) AS n_affected FROM aff),
              rk AS (SELECT qid, node, cos,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, node) AS rn
                     FROM beam$R WHERE node <> qid)
         SELECT qid, CAST(rn AS INTEGER) AS rank, node AS vec_id,
                round(cos, 4) AS cos,
                CAST(n_deleted AS BIGINT) AS n_deleted,
                CAST(n_affected AS BIGINT) AS n_affected
         FROM rk CROSS JOIN nd CROSS JOIN na
         WHERE rn <= 3 ORDER BY qid, rank""",
  )
}
