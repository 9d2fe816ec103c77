package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Link-graph authority scoring (SURVEY.md §2.11, round 6).
  *
  * `graph_pagerank` runs a fixed-iteration PageRank over the bipartite
  * part↔supplier supply graph (distinct lineitem pairs, sampled) — the
  * curation use case is crawl-graph authority as a document-quality
  * prior (CommonCrawl-style pipelines rank hosts by centrality before
  * sampling). The fixture graph is a stand-in; the plan shape is the
  * real thing.
  *
  * Scale notes (100 TB):
  *   - each iteration is ONE shuffle: contributions (dst, pr/deg)
  *     hash-aggregate on dst; the edge list never moves after its
  *     initial distinct. This is the canonical distributed PageRank
  *     shape (map contributions / reduce by destination).
  *   - the edge⋈rank join is src-keyed; on a cluster both sides
  *     co-partition on src and the degree table rides the same join.
  *     Identical edge subplans across the 3 unrolled iterations
  *     dedupe via Spark's exchange reuse.
  *   - iterations are FIXED (3), not convergence-driven: no per-round
  *     driver action at all — the whole ranking is one lazy plan (for
  *     convergence-driven variants see Clustering.components' fused
  *     fixpoint pattern).
  *
  * Determinism (SURVEY §5.4): contributions pr/deg are divisions of
  * identical double bits; each term is quantized to DECIMAL(28,10)
  * before the sum (order-independent); the damped update
  * 0.15 + 0.85·sum runs on identical doubles. The oracle unrolls the
  * same 3 iterations as CTEs, digit-for-digit.
  */
object GraphOps {
  type Q = (SparkSession, String) => DataFrame

  /** 3 fixed PageRank iterations over symmetric (src, dst) edges.
    * Returns (node, pr) for every node.
    *
    * r15 (guide §1.2/§2.4): the degree-joined edge list is
    * materialized ONCE. The 3 unrolled iterations each reference it,
    * and the union-of-two-projections edge shape defeats exchange
    * reuse (the legs' output columns differ), so the lazy form
    * re-ran the scan → distinct → degree-join subtree per reference —
    * 28 parquet scans of lineitem in the executed plan of
    * graph_pagerank (plans/r15/graph_pagerank_before.txt). After: 2
    * scans (the pair-list build), one degree join, 3 iteration
    * shuffles — the canonical shape the Scaladoc already claimed. */
  private[graft] def pagerank3(edges: DataFrame): DataFrame = {
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val withDeg = edges.join(outdeg, "src").localCheckpoint()
    var pr = withDeg.select(col("src").as("node")).distinct()
      .withColumn("pr", lit(1.0))
    for (_ <- 1 to 3) {
      pr = withDeg.join(pr, col("src") === col("node"))
        .select(col("dst"),
          (col("pr") / col("deg")).cast("decimal(28,10)").as("c"))
        .groupBy("dst")
        .agg((lit(0.15) + lit(0.85) * sum(col("c")).cast("double")).as("pr"))
        .select(col("dst").as("node"), col("pr"))
    }
    // r15 #5 (session 4): END-PIN the node-grain rank frame so the
    // degree-joined edge list (~5.5 MB resident in the storage
    // census) is freed at construction — the returned plan reads the
    // small (node, pr) checkpoint, same jobs either way.
    val out = pr.localCheckpoint(true)
    graft.Ckpt.free(withDeg)
    out
  }

  /** Unipartite co-supply graph: undirected edge (p1, p2) when two
    * sampled parts share a supplier. Edges are oriented p1 < p2 (each
    * undirected edge stored once) — the orientation is what keeps the
    * triangle join linear-ish in wedge count instead of 6× redundant.
    *
    * Scale notes (100 TB): the supplier-projection self-join is keyed
    * on suppkey (an equi-join, never all-pairs); its output is bounded
    * by sum-over-suppliers C(parts_per_supplier, 2), which the `mod`
    * sample keeps subquadratic. On a real graph you'd cap heavy
    * suppliers (degree ceiling) the same way dedup's LSH caps hot
    * buckets — the shape is identical.
    */
  private[graft] def coSupplyEdges(s: SparkSession, d: String,
                                   mod: Int): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .filter(col("l_partkey") % mod === 0)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
      .distinct()
    ps.as("a").join(ps.as("b"),
        col("a.sk") === col("b.sk") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
  }

  /** Unipartite co-PURCHASE graph: undirected edge (p1, p2) when two
    * sampled parts appear in the same order. Sparser and less cliquey
    * than the co-supply projection (orders hold ~4 items vs a
    * supplier's ~80 parts) — degrees straddle the k-core threshold,
    * which is what makes peeling non-trivial. Same scale story: the
    * self-join is keyed on l_orderkey (equi, never all-pairs), output
    * bounded by Σ_orders C(items, 2). */
  /** The shared 4-round label propagation over the co-purchase graph
    * — (edges u<v, symmetric adjacency, final node→lbl frame), each
    * round localCheckpoint'ed (the kcore plan-hygiene contract).
    * Consumed by `graph_community_labelprop` (community census) and
    * `graph_modularity` (community quality). */
  private def labelPropagation(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val e = coPurchaseEdges(s, d, 10).localCheckpoint()
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
    var lab = adj.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node")).localCheckpoint()
    for (_ <- 1 to 4) {
      // r15 (guide §2.4): one exchange per round, not two — the
      // (dst, lbl) count and the per-dst majority window share the
      // dst exchange (HashPartitioning(dst) satisfies
      // ClusteredDistribution(dst, lbl)).
      val next = adj.join(lab, col("src") === col("node"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(Window.partitionBy("dst")
          .orderBy(col("cnt").desc, col("lbl"))))
        .filter(col("rn") === 1)
        .select(col("dst").as("node"), col("lbl"))
        .localCheckpoint()
      graft.Ckpt.free(lab) // superseded round (r15 #5)
      lab = next
    }
    (e, adj, lab)
  }

  private[graft] def coPurchaseEdges(s: SparkSession, d: String,
                                     mod: Int): DataFrame = {
    val ps = Tables.lineitem(s, d)
      .filter(col("l_partkey") % mod === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    ps.as("a").join(ps.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("u"), col("b.pk").as("v"))
      .distinct()
  }

  private def coSupplyEdgesSql(mod: Int): String =
    s"""ps AS (SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
               FROM lineitem WHERE l_partkey % $mod = 0),
        ed AS (SELECT DISTINCT a.pk AS u, b.pk AS v
               FROM ps a JOIN ps b
                 ON a.sk = b.sk AND a.pk < b.pk)"""

  val queries: Map[String, Q] = Map(
    // Authority top-20 over the sampled part↔supplier graph. Node ids
    // disambiguate the two key spaces (part → 2k, supplier → 2k+1).
    "graph_pagerank" -> ((s, d) => {
      val pairs = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 20 === 0)
        .select((col("l_partkey") * 2).as("pn"),
          (col("l_suppkey") * 2 + 1).as("sn"))
        .distinct()
        .localCheckpoint() // consumed by both union legs ×2 (edges, outdeg)
      val edges = pairs.select(col("pn").as("src"), col("sn").as("dst"))
        .union(pairs.select(col("sn").as("src"), col("pn").as("dst")))
      val pr = pagerank3(edges)
      // pagerank3 materialized the degree-joined edge list; the pair
      // list's blocks are dead from here (r15 #5)
      graft.Ckpt.free(pairs)
      pr
        .select(col("node"),
          when(col("node") % 2 === 0, lit("part"))
            .otherwise(lit("supplier")).as("kind"),
          (floor(col("pr") * 10000).cast("double") / 10000.0).as("pr4"))
        .orderBy(col("pr4").desc, col("node"))
        .limit(20)
    }),

    // Exact triangle count + global clustering coefficient over the
    // co-supply graph. The u<v orientation means each triangle
    // (a<b<c) is produced exactly once by the wedge join
    // e1=(a,b) ⋈ e2=(b,c) closed by e3=(a,c) — two hash equi-joins,
    // never a cartesian; wedge fan-out is the quadratic term and the
    // sample modulus bounds it (100 TB: orient by degree instead of id
    // — same plan, provably O(m^1.5) wedges). Wedge total for the
    // coefficient is Σ C(deg,2) over the symmetric degree — one cheap
    // aggregate, no second pass over pairs.
    "graph_triangle_count" -> ((s, d) => {
      val e = coSupplyEdges(s, d, 200).cache()
      val tri = e.as("e1")
        .join(e.as("e2"), col("e1.v") === col("e2.u"))
        .join(e.as("e3"),
          col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val wed = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(col("deg") * (col("deg") - 1) / 2).cast("bigint").as("n_wedges"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      tri.crossJoin(wed).crossJoin(ne)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
          col("n_triangles"),
          (floor(lit(3.0) * col("n_triangles") / col("n_wedges") * 1e6)
            .cast("double") / 1e6).as("global_cc"))
    }),

    // Link prediction by neighbor-set Jaccard (r7; re-targeted r15)
    // — the classic common-neighbors recommender: for non-adjacent
    // pairs at distance 2, score = |N(u)∩N(v)| / |N(u)∪N(v)|.
    // Common neighbors come from the SAME wedge equi-join as
    // triangle counting (u<w orientation dedups pairs); existing
    // edges are removed with a LEFT ANTI join; the union size is
    // inclusion-exclusion over the degree aggregate — all integer
    // arithmetic until one final division.
    // r15 (VERDICT r14 #1): runs on the co-PURCHASE graph, not
    // co-supply — the co-supply projection is a union of COMPLETE
    // supplier cliques at the fixture scales, so every distance-2
    // pair is already an edge and the candidate set is empty BY
    // CONSTRUCTION (0 rows at sf0.01 made the driver hash check
    // vacuous). Co-purchase (orders hold ~4 items) has real open
    // wedges: 22 / 1,435 / 18,571 candidates at sf0.001/0.01/0.1.
    "graph_link_prediction" -> ((s, d) => {
      val e = coPurchaseEdges(s, d, 20).cache()
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val deg = adj.groupBy(col("u").as("dn")).agg(count(lit(1)).as("deg"))
      val cn = adj.as("a").join(adj.as("b"), col("a.v") === col("b.u"))
        .filter(col("a.u") < col("b.v"))
        .groupBy(col("a.u").as("x"), col("b.v").as("y"))
        .agg(count(lit(1)).as("cn"))
      val cand = cn.join(e,
          col("x") === col("u") && col("y") === col("v"), "left_anti")
      cand
        .join(deg.withColumnRenamed("dn", "xd").withColumnRenamed("deg", "dx"),
          col("x") === col("xd"))
        .join(deg.withColumnRenamed("dn", "yd").withColumnRenamed("deg", "dy"),
          col("y") === col("yd"))
        .select(col("x"), col("y"), col("cn"),
          round(col("cn") / (col("dx") + col("dy") - col("cn"))
            .cast("double"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("x"), col("y"))
        .limit(20)
    }),

    // Degree distribution of the (denser, mod=50) co-supply graph —
    // the profiling query you run BEFORE choosing a triangle/CC
    // strategy at scale: one symmetric-degree aggregate, bucketed.
    // One lazy plan, no checkpoint: each edge emits both endpoints
    // through one explode, so the co-supply join runs once (a u-leg
    // union v-leg form would run it once per leg).
    "graph_degree_distribution" -> ((s, d) =>
      coSupplyEdges(s, d, 50)
        .select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .groupBy((floor(col("deg") / 8) * 8).cast("bigint").as("deg_bucket"))
        .agg(count(lit(1)).as("n_nodes"),
          min(col("deg")).as("deg_min"), max(col("deg")).as("deg_max"))
        .orderBy("deg_bucket")),

    // k-core decomposition by iterative peeling (r9; Seidman 1983,
    // Batagelj–Zaveršnik): drop every node with degree < k, induce
    // the surviving subgraph, repeat. Declared semantics is the
    // 6-round peel profile of the k=8 core over the CO-PURCHASE
    // graph (parts sharing an order, sampled mod 10 — the co-supply
    // graph is supplier-clique-dense and nothing ever peels; this
    // one has degrees 3..23 around k, so the cascade is real:
    // 172→157 nodes over the rounds at sf0.01). Rounds are FIXED,
    // not convergence-driven — the distributed contract: each round
    // is one degree aggregate + two semi-joins, so the round count
    // bounds the shuffle count, exactly how Pregel-style engines
    // budget it. Output per round: surviving node/edge counts — the
    // shell-vs-core peel profile.
    // Scale: each round's survivor edge set is localCheckpoint'ed
    // (the dedup_cluster_cc iterative-loop precedent) — WITHOUT it
    // every round re-references the previous round's subtree ~4×
    // (degree u-side, degree v-side, induce base, stats), so the
    // lazy plan grows ~4^rounds and Catalyst analysis, not the data,
    // becomes the bottleneck (measured: the fully-declarative form
    // never finished analysis at sf0.01; checkpointed it's seconds).
    // The oracle needs the same medicine: AS MATERIALIZED on every
    // round CTE, or DuckDB's inliner re-expands e_{r-1} per
    // reference and dies the same exponential death.
    "graph_kcore" -> ((s, d) => {
      val k = 8
      var e = coPurchaseEdges(s, d, 10).localCheckpoint()
      var stats: DataFrame = null
      val rounds = scala.collection.mutable.ArrayBuffer(e)
      for (r <- 1 to 6) {
        val deg = e.select(col("u").as("n"))
          .union(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select("n")
        e = e
          .join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
          .localCheckpoint()
        rounds += e // referenced by the lazy census until the end-pin
        val st = e.select(col("u").as("n"))
          .union(e.select(col("v").as("n"))).distinct()
          .agg(count(lit(1)).as("n_nodes"))
          .crossJoin(e.agg(count(lit(1)).as("n_edges")))
          .select(lit(r.toLong).as("round"), col("n_nodes"),
            col("n_edges"))
        stats = if (stats == null) st else stats.unionAll(st)
      }
      // pin the 6-row census ONCE (the same union-of-aggregates job
      // the action used to run), then free every round's edge set —
      // the lazy census previously kept all 6 rounds resident for the
      // session (r15 #5). One job either way; the peel itself still
      // shuffles exactly `rounds` times.
      val statsC = stats.localCheckpoint(true)
      graft.Ckpt.free(rounds.toSeq: _*)
      statsC.orderBy("round")
    }),

    // Multi-source BFS layering (r9) — the fourth Pregel shape beside
    // PageRank (value iteration), CC/label-prop (label exchange), and
    // k-core (peeling): hop distance from a 3-node seed set over the
    // co-purchase graph, 6 FIXED frontier-expansion rounds. Each
    // round: frontier ⋈ adjacency (equi on src) → candidate next
    // layer → anti-join against everything already labeled → new
    // frontier, checkpoint (dist table + frontier are the only state
    // — this is exactly how Pregel BFS bounds memory). Seeds are the
    // 3 smallest node ids picked DECLARATIVELY (rank window, no
    // driver collect). Output: nodes per hop layer + the unreached
    // count (disconnected mass) — the reachability profile.
    "graph_bfs_layers" -> ((s, d) => {
      val e = coPurchaseEdges(s, d, 10).localCheckpoint()
      val adj = e.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      val nodes = adj.select(col("src").as("node")).distinct()
      // r14: 3 smallest node ids via TakeOrderedAndProject (k rows
      // per partition), not a global rank window over all nodes
      val seeds = nodes.orderBy("node").limit(3)
      var dist = seeds.withColumn("dist", lit(0L)).localCheckpoint()
      var frontier = dist.select("node").localCheckpoint()
      for (r <- 1 to 6) {
        val next = adj
          .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist.select("node"), Seq("node"), "left_anti")
          .withColumn("dist", lit(r.toLong))
          .localCheckpoint()
        graft.Ckpt.free(frontier) // consumed by `next` (r15 #5)
        val dist2 = dist.unionByName(next).localCheckpoint()
        graft.Ckpt.free(dist) // superseded by the unioned checkpoint
        dist = dist2
        frontier = next.select("node").localCheckpoint()
        graft.Ckpt.free(next) // absorbed into dist + frontier
      }
      // the final frontier is never read by the output
      graft.Ckpt.free(frontier)
      val layers = dist.groupBy("dist").agg(count(lit(1)).as("n_nodes"))
      val unreached = nodes.join(dist.select("node"), Seq("node"),
          "left_anti")
        .agg(count(lit(1)).as("n_nodes"))
        .select(lit(-1L).as("dist"), col("n_nodes"))
      layers.unionByName(unreached).filter(col("n_nodes") > 0)
        .orderBy("dist")
    }),

    // k-hop betweenness centrality (r12) — Brandes' algorithm
    // (2001, "A faster algorithm for betweenness centrality")
    // truncated at 3 hops from 4 fixed sources: forward multi-source
    // BFS accumulates shortest-path COUNTS σ per layer (σ(v) = Σ σ(u)
    // over layer-(r−1) predecessors — integer, exact), then the
    // backward dependency pass folds δ(u) = Σ (σu/σv)(1+δv) down the
    // layers. This is the sampled/k-bounded form every large-graph
    // system ships (exact betweenness is O(V·E) — unshippable at
    // 100 TB); sources and depth are DECLARED constants, so cost is
    // 3 forward + 2 backward relational rounds regardless of graph
    // size. Determinism (the markov_hitting discipline): δ is
    // carried as the integer quantile δq = ⌊δ·10⁶⌋; each backward
    // term is the pure-integer ⌊σu·(10⁶+δq_v) / σv⌋ (div == // on
    // non-negatives), so both engines accumulate identical integers
    // — no double ever enters a sum. Ceiling: σ·(10⁶+δq) wraps int64
    // when σ·(reachable+1) ≳ 9·10¹²; past that the term widens to
    // DECIMAL(38,0)/HUGEINT (the cuped path — not needed at any
    // fixture scale, noted for the 100 TB operator).
    "graph_betweenness_khop" -> ((s, d) => {
      val Q = 1000000L
      val e = coPurchaseEdges(s, d, 10).localCheckpoint()
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
        .localCheckpoint()
      graft.Ckpt.free(e) // both passes read only the symmetrized adj
      val nodes = adj.select(col("a").as("node")).distinct()
      val srcs = nodes.orderBy("node").limit(4)
        .select(col("node").as("qsrc"))
      var layers = srcs.select(col("qsrc"), col("qsrc").as("node"),
        lit(1L).as("sigma"), lit(0).as("dist")).localCheckpoint()
      var frontier = layers
      for (r <- 1 to 3) {
        val next = frontier.join(adj, col("node") === col("a"))
          .groupBy(col("qsrc"), col("b"))
          .agg(sum(col("sigma")).as("sigma"))
          .withColumnRenamed("b", "node")
          .join(layers.select("qsrc", "node"), Seq("qsrc", "node"),
            "left_anti")
          .withColumn("dist", lit(r))
          .select("qsrc", "node", "sigma", "dist")
          .localCheckpoint()
        if (frontier ne layers)
          graft.Ckpt.free(frontier) // prior round's next, consumed above
        val l2 = layers.unionByName(next).localCheckpoint()
        graft.Ckpt.free(layers) // superseded by the unioned checkpoint
        layers = l2
        frontier = next
      }
      // the backward pass reads only the final unioned `layers`
      graft.Ckpt.free(frontier)
      def layer(r: Int) = layers.filter(col("dist") === r)
      def succ(r: Int) = layer(r)
        .select(col("qsrc"), col("node").as("unode"), col("sigma").as("us"))
        .join(adj, col("unode") === col("a"))
        .join(layer(r + 1).select(col("qsrc").as("vq"),
          col("node").as("vnode"), col("sigma").as("vs")),
          col("qsrc") === col("vq") && col("b") === col("vnode"))
        .select(col("qsrc"), col("unode"), col("us"),
          col("vnode"), col("vs"))
      def deps(r: Int, dNext: DataFrame): DataFrame = {
        val terms = succ(r)
          .join(dNext, Seq("qsrc", "vnode"))
          .select(col("qsrc"), col("unode"),
            expr(s"(us * ($Q + dq)) div vs").as("term"))
          .groupBy("qsrc", "unode").agg(sum(col("term")).as("tq"))
        layer(r).select(col("qsrc"), col("node").as("unode"))
          .join(terms, Seq("qsrc", "unode"), "left")
          .select(col("qsrc"), col("unode"),
            coalesce(col("tq"), lit(0L)).as("dq"))
      }
      val d3 = layer(3).select(col("qsrc"), col("node").as("vnode"),
        lit(0L).as("dq"))
      val d2 = deps(2, d3)
      val d1 = deps(1, d2.withColumnRenamed("unode", "vnode"))
      d1.select(col("unode").as("node"), col("dq"))
        .unionByName(d2.select(col("unode").as("node"), col("dq")))
        .unionByName(d3.select(col("vnode").as("node"), col("dq")))
        .groupBy("node").agg(sum(col("dq")).as("bq"))
        .orderBy(col("bq").desc, col("node")).limit(15)
        .select(col("node"), (col("bq").cast("double") / 1e6).as("btw"))
        .orderBy(col("btw").desc, col("node"))
    }),

    // Deterministic random-walk corpus (r12) — the DeepWalk/node2vec
    // DATA-PREP primitive (Perozzi et al. 2014): graph embeddings
    // train on walk sequences exactly like an LM trains on text, and
    // at 100 TB the walk GENERATION is the Spark job (training is
    // downstream). Each sampled start takes 4 steps; the "random"
    // neighbor pick is the engine's standard md5 content-coin over
    // (start, step, current, candidate) — rerun- and partitioning-
    // independent (a seeded RNG is executor-order-dependent in a
    // distributed engine; the hash coin is the only reproducible
    // randomness — the sample_hash_split argument applied to graphs).
    // Each step is one frontier⋈adjacency equi-join + a rank-pinning
    // row_number pick (one row per start — the hint-audit-exempt
    // class); state per step is (starts × 1) rows. Symmetric
    // co-purchase adjacency has no dead ends by construction.
    "graph_random_walk_corpus" -> ((s, d) => {
      val e = coPurchaseEdges(s, d, 10).localCheckpoint()
      val adj = e.select(col("u").as("a"), col("v").as("b"))
        .unionByName(e.select(col("v").as("a"), col("u").as("b")))
        .localCheckpoint()
      graft.Ckpt.free(e) // walk + starts read only the symmetrized adj
      val starts = adj.select(col("a").as("node")).distinct()
        .filter(col("node") % 7 === 0)
        .select(col("node").as("start"), col("node"))
      var walk = starts.withColumn("step", lit(0))
      var frontier = walk
      for (r <- 1 to 4) {
        val next = frontier.join(adj, col("node") === col("a"))
          .withColumn("coin", expr(
            s"""md5(concat(CAST(start AS STRING), ':', '$r', ':',
                 CAST(node AS STRING), ':', CAST(b AS STRING)))"""))
          .withColumn("rn", row_number().over(
            Window.partitionBy("start").orderBy(col("coin"), col("b"))))
          .filter(col("rn") === 1)
          .select(col("start"), col("b").as("node"), lit(r).as("step"))
          .localCheckpoint()
        walk = walk.unionByName(next)
        frontier = next
      }
      walk.orderBy("start", "step")
    }),

    // Synchronous label propagation communities (r9; Raghavan et al.
    // 2007): every node starts as its own label; each round a node
    // adopts the MAJORITY label among its neighbors (tiebreak:
    // smallest label — the determinism knob the async original
    // lacks). 4 FIXED rounds over the co-purchase graph; distinct
    // from dedup_cluster_cc's min-label connected components —
    // LP finds dense sub-communities INSIDE a component (CC gives 1
    // label per component; LP's majority vote splits it along weak
    // cuts). Same Pregel budget contract and checkpoint-per-round
    // plan hygiene as graph_kcore; one (dst, lbl) aggregate + one
    // per-node argmax window per round. Output: the 20 largest
    // communities + total community count.
    "graph_community_labelprop" -> ((s, d) => {
      val (e, _, lab) = labelPropagation(s, d)
      // this key reads only the final labels; the edge checkpoint's
      // consumers (adj, the 4 label rounds) are all materialized.
      // graph_modularity, which DOES reference e/adj lazily, keeps it.
      graft.Ckpt.free(e)
      // r14: community grain is node-bounded (table-proportional in
      // the worst case), so the census never rides a global window —
      // n_comms is a 1-row aggregate broadcast and the top-20 pick is
      // orderBy().limit() (TakeOrderedAndProject: k rows per
      // partition); only the ≤20 surviving rows see a rank window.
      val sizes = lab.groupBy("lbl").agg(count(lit(1)).as("size"))
      val nc = sizes.agg(count(lit(1)).as("n_comms"))
      sizes.orderBy(col("size").desc, col("lbl")).limit(20)
        .crossJoin(broadcast(nc))
        .withColumn("rank", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("size").desc, col("lbl"))))
        .select(col("rank").cast("long").as("rank"),
          col("lbl").as("community"), col("size").as("csize"),
          col("n_comms"))
        .orderBy("rank")
    }),

    // Newman modularity of the labelprop partition (r12) — the
    // quality score that tells you whether to KEEP iterating label
    // propagation at scale (LP has no objective; modularity is the
    // stop/tune metric, and the Louvain objective this census
    // approximates): Q = Σ_c [intra_c/m − (deg_c/2m)²]. All three
    // inputs are exact integers (intra edge count, community degree
    // sum, edge count m), so per-community numerators accumulate as
    // DECIMAL(38,0) — intra·4m and deg² wrap int64 around m ~ 2^31
    // edges, BELOW the 100 TB design point (the cuped/pps lesson) —
    // and the only doubles are final exact-integer→double quotients,
    // floor-quantized. Shuffle profile: the two label joins are
    // node-grain equi-joins; everything after is community-grain
    // (one row per community — the bounded synopsis grain the
    // single-partition ranking window also rides, the labelprop
    // precedent). Output: top-15 communities by size with their
    // (intra, deg_sum, contribution) + the global Q folded into
    // every row.
    "graph_modularity" -> ((s, d) => {
      val (e, adj, lab) = labelPropagation(s, d)
      val mf = e.agg(count(lit(1)).as("m"))
      val deg = adj.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
      val degc = deg.join(lab, "node")
        .groupBy("lbl")
        .agg(sum(col("deg")).as("deg_sum"), count(lit(1)).as("csize"))
      val intra = e
        .join(lab.select(col("node").as("u"), col("lbl").as("ul")), "u")
        .join(lab.select(col("node").as("v"), col("lbl").as("vl")), "v")
        .filter(col("ul") === col("vl"))
        .groupBy(col("ul").as("lbl"))
        .agg(count(lit(1)).as("intra"))
      // r14: community grain is node-bounded, so the global Q fold
      // is a 1-row decimal aggregate broadcast (exact and
      // order-independent) rather than an unpartitioned sum window,
      // and the top-15 pick is orderBy().limit() — only the ≤15
      // surviving rows see a rank window. The community frame is
      // checkpointed once (consumed by the total AND the top-k).
      val comm = degc.join(intra, Seq("lbl"), "left")
        .withColumn("intra", coalesce(col("intra"), lit(0L)))
        .crossJoin(broadcast(mf)) // 1-row aggregate
        .withColumn("num",
          col("intra").cast("decimal(38,0)") * 4 * col("m")
            - col("deg_sum").cast("decimal(38,0)") * col("deg_sum"))
        .withColumn("den",
          (col("m").cast("decimal(38,0)") * col("m") * 4).cast("double"))
        .localCheckpoint()
      val tot = comm.agg(sum(col("num")).as("num_tot"))
      comm.orderBy(col("csize").desc, col("lbl")).limit(15)
        .crossJoin(broadcast(tot))
        .withColumn("q_contrib",
          floor(col("num").cast("double") / col("den") * 1e6) / 1e6)
        .withColumn("q_total",
          floor(col("num_tot").cast("double") / col("den") * 1e6) / 1e6)
        .withColumn("rank", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("csize").desc, col("lbl"))))
        .select(col("rank").cast("long").as("rank"),
          col("lbl").as("community"), col("csize"), col("intra"),
          col("deg_sum"), col("q_contrib"), col("q_total"))
        .orderBy("rank")
    }),

    // Weakly-connected components census (r10, VERDICT r9 #8) — the
    // GraphFrames-`connectedComponents` equivalent over an EXPLICIT
    // graph, completing the family's four Pregel shapes with the
    // canonical label-exchange: distinct from `dedup_cluster_cc`
    // (same algorithm, but over LSH candidate edges of embeddings —
    // here the input is the co-purchase part graph every other graph
    // key shares) and from `graph_community_labelprop` (majority
    // vote splits a component along weak cuts; WCC's min-label gives
    // exactly one label per component). Reuses
    // Clustering.components: min-label propagation + pointer
    // jumping, O(log diameter) materialized rounds, shuffles sized
    // to state volume. Verts = ALL sampled parts, not just edge
    // endpoints — a part never co-purchased is a visible singleton
    // component, not a dropped row. Output: per-component
    // (rep, n_members, n_edges). Oracle: recursive-CTE transitive
    // closure (the dedup_cluster_cc precedent).
    "graph_wcc_components" -> ((s, d) => {
      // checkpointed: consumed twice (the CC loop and the per-
      // component edge census) — same multi-consumer pattern as the
      // sibling graph keys
      val e = coPurchaseEdges(s, d, 10).localCheckpoint()
      val verts = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 10 === 0)
        .select(col("l_partkey").as("n")).distinct()
      val labels = Clustering.components(verts,
        e.select(col("u").as("a"), col("v").as("b")))
      val mem = labels.groupBy("lab").agg(count(lit(1)).as("n_members"))
      val ce = e.join(labels.select(col("n").as("u"),
          col("lab").as("elab")), Seq("u"))
        .groupBy("elab").agg(count(lit(1)).as("n_edges"))
      mem.join(ce, col("lab") === col("elab"), "left")
        .select(col("lab").as("rep"), col("n_members"),
          coalesce(col("n_edges"), lit(0L)).as("n_edges"))
        .orderBy("rep")
    }),
  )

  /** Generated label-propagation oracle: 4 majority-vote rounds as a
    * MATERIALIZED CTE chain (same exponential-inlining medicine as
    * kcoreSql). */
  /** The shared labelprop CTE chain (ps → ed → adj → l0 → … → l4) —
    * the oracle twin of `labelPropagation`, used by both the census
    * and the modularity oracles so the partitions can never diverge. */
  private def labelPropChainSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""c$r AS MATERIALIZED (SELECT a.dst AS node, l.lbl AS lbl,
                  count(*) AS cnt
                  FROM adj a JOIN l${r - 1} l ON a.src = l.node
                  GROUP BY a.dst, l.lbl),
          l$r AS MATERIALIZED (SELECT node, lbl
                  FROM (SELECT *, row_number() OVER (PARTITION BY node
                          ORDER BY cnt DESC, lbl) AS rn
                        FROM c$r) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""ps AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                                   l_partkey AS pk
                            FROM lineitem WHERE l_partkey % 10 = 0),
        ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                            FROM ps a JOIN ps b
                              ON a.ok = b.ok AND a.pk < b.pk),
        adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
                             UNION ALL SELECT v, u FROM ed),
        l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS lbl
                            FROM adj),
        $rounds"""
  }

  /** Random-walk oracle: the same md5 coin per (start, step,
    * current, candidate), steps generated from one template. */
  private def randomWalkSql: String = {
    val steps = (1 to 4).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""w$r AS MATERIALIZED (SELECT start, node, $r AS step FROM (
            SELECT w.start, adj.b AS node,
                   row_number() OVER (PARTITION BY w.start
                     ORDER BY md5(concat(CAST(w.start AS VARCHAR), ':',
                       '$r', ':', CAST(w.node AS VARCHAR), ':',
                       CAST(adj.b AS VARCHAR))), adj.b) AS rn
            FROM $prev w JOIN adj ON adj.a = w.node) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                                        l_partkey AS pk
                                 FROM lineitem WHERE l_partkey % 10 = 0),
            ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                                FROM ps a JOIN ps b
                                  ON a.ok = b.ok AND a.pk < b.pk),
            adj AS MATERIALIZED (SELECT u AS a, v AS b FROM ed
                                 UNION ALL SELECT v, u FROM ed),
            w0 AS (SELECT node AS start, node, 0 AS step FROM (
                     SELECT DISTINCT a AS node FROM adj)
                   WHERE node % 7 = 0),
            $steps
       SELECT start, CAST(step AS INTEGER) AS step, node
       FROM (SELECT start, step, node FROM w0
             UNION ALL SELECT start, step, node FROM w1
             UNION ALL SELECT start, step, node FROM w2
             UNION ALL SELECT start, step, node FROM w3
             UNION ALL SELECT start, step, node FROM w4)
       ORDER BY start, step"""
  }

  /** k-hop betweenness oracle — forward σ layers + backward integer
    * δ-quantile folds, the same ⌊σu·(10⁶+δq)/σv⌋ terms as the Spark
    * side (div == // on non-negatives). */
  private def betweennessSql: String = {
    def succ(r: Int, u: String, v: String): String =
      s"""s$r AS (SELECT u.qsrc, u.node AS unode, u.sigma AS us,
                         v.node AS vnode, v.sigma AS vs
                  FROM $u u JOIN adj ON adj.a = u.node
                            JOIN $v v ON v.qsrc = u.qsrc
                                      AND v.node = adj.b)"""
    s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                                        l_partkey AS pk
                                 FROM lineitem WHERE l_partkey % 10 = 0),
            ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                                FROM ps a JOIN ps b
                                  ON a.ok = b.ok AND a.pk < b.pk),
            adj AS MATERIALIZED (SELECT u AS a, v AS b FROM ed
                                 UNION ALL SELECT v, u FROM ed),
            srcs AS (SELECT node AS qsrc FROM (
                       SELECT DISTINCT a AS node FROM adj)
                     ORDER BY node LIMIT 4),
            f0 AS MATERIALIZED (SELECT qsrc, qsrc AS node,
                                       CAST(1 AS BIGINT) AS sigma
                                FROM srcs),
            n1 AS MATERIALIZED (SELECT f.qsrc, adj.b AS node,
                                       CAST(sum(f.sigma) AS BIGINT) AS sigma
                                FROM f0 f JOIN adj ON adj.a = f.node
                                WHERE NOT EXISTS (SELECT 1 FROM f0 p
                                  WHERE p.qsrc = f.qsrc AND p.node = adj.b)
                                GROUP BY f.qsrc, adj.b),
            l1 AS MATERIALIZED (SELECT qsrc, node FROM f0
                                UNION ALL SELECT qsrc, node FROM n1),
            n2 AS MATERIALIZED (SELECT f.qsrc, adj.b AS node,
                                       CAST(sum(f.sigma) AS BIGINT) AS sigma
                                FROM n1 f JOIN adj ON adj.a = f.node
                                WHERE NOT EXISTS (SELECT 1 FROM l1 p
                                  WHERE p.qsrc = f.qsrc AND p.node = adj.b)
                                GROUP BY f.qsrc, adj.b),
            l2 AS MATERIALIZED (SELECT qsrc, node FROM l1
                                UNION ALL SELECT qsrc, node FROM n2),
            n3 AS MATERIALIZED (SELECT f.qsrc, adj.b AS node,
                                       CAST(sum(f.sigma) AS BIGINT) AS sigma
                                FROM n2 f JOIN adj ON adj.a = f.node
                                WHERE NOT EXISTS (SELECT 1 FROM l2 p
                                  WHERE p.qsrc = f.qsrc AND p.node = adj.b)
                                GROUP BY f.qsrc, adj.b),
            ${succ(2, "n2", "n3")},
            d3 AS (SELECT qsrc, node AS vnode, CAST(0 AS BIGINT) AS dq
                   FROM n3),
            d2 AS MATERIALIZED (SELECT l.qsrc, l.node AS unode,
                     CAST(coalesce(t.tq, 0) AS BIGINT) AS dq
                   FROM n2 l LEFT JOIN (
                     SELECT s.qsrc, s.unode,
                            CAST(sum((s.us * (1000000 + d.dq)) // s.vs)
                              AS BIGINT) AS tq
                     FROM s2 s JOIN d3 d ON d.qsrc = s.qsrc
                                         AND d.vnode = s.vnode
                     GROUP BY s.qsrc, s.unode) t
                     ON t.qsrc = l.qsrc AND t.unode = l.node),
            ${succ(1, "n1", "n2")},
            d1 AS MATERIALIZED (SELECT l.qsrc, l.node AS unode,
                     CAST(coalesce(t.tq, 0) AS BIGINT) AS dq
                   FROM n1 l LEFT JOIN (
                     SELECT s.qsrc, s.unode,
                            CAST(sum((s.us * (1000000 + d.dq)) // s.vs)
                              AS BIGINT) AS tq
                     FROM s1 s JOIN d2 d ON d.qsrc = s.qsrc
                                         AND d.unode = s.vnode
                     GROUP BY s.qsrc, s.unode) t
                     ON t.qsrc = l.qsrc AND t.unode = l.node),
            uni AS (SELECT unode AS node, dq FROM d1
                    UNION ALL SELECT unode, dq FROM d2
                    UNION ALL SELECT vnode, dq FROM d3),
            bq AS (SELECT node, CAST(sum(dq) AS BIGINT) AS bq
                   FROM uni GROUP BY node)
       SELECT node, CAST(bq AS DOUBLE) / 1e6 AS btw
       FROM (SELECT node, bq,
                    row_number() OVER (ORDER BY bq DESC, node) AS rn
             FROM bq)
       WHERE rn <= 15 ORDER BY btw DESC, node"""
  }

  private def labelPropSql: String =
    s"""WITH $labelPropChainSql,
            sz AS (SELECT lbl, count(*) AS csize FROM l4 GROUP BY lbl)
       SELECT rank, community, csize, n_comms FROM (
         SELECT CAST(row_number() OVER (ORDER BY csize DESC, lbl)
                     AS BIGINT) AS rank,
                lbl AS community, csize,
                CAST(count(*) OVER () AS BIGINT) AS n_comms
         FROM sz) WHERE rank <= 20 ORDER BY rank"""

  private def modularitySql: String =
    s"""WITH $labelPropChainSql,
            mm AS (SELECT count(*) AS m FROM ed),
            deg AS (SELECT src AS node, count(*) AS deg
                    FROM adj GROUP BY src),
            degc AS (SELECT l.lbl, CAST(sum(deg.deg) AS BIGINT) AS deg_sum,
                            count(*) AS csize
                     FROM deg JOIN l4 l ON l.node = deg.node
                     GROUP BY l.lbl),
            intra AS (SELECT la.lbl, count(*) AS intra
                      FROM ed JOIN l4 la ON la.node = ed.u
                              JOIN l4 lb ON lb.node = ed.v
                      WHERE la.lbl = lb.lbl GROUP BY la.lbl),
            per AS (SELECT d.lbl, d.csize,
                           CAST(coalesce(i.intra, 0) AS BIGINT) AS intra,
                           d.deg_sum,
                           CAST(coalesce(i.intra, 0) AS HUGEINT) * 4 * mm.m
                             - CAST(d.deg_sum AS HUGEINT) * d.deg_sum AS num,
                           CAST(CAST(mm.m AS HUGEINT) * mm.m * 4 AS DOUBLE)
                             AS den
                    FROM degc d LEFT JOIN intra i ON i.lbl = d.lbl
                    CROSS JOIN mm)
       SELECT rank, community, csize, intra, deg_sum, q_contrib, q_total
       FROM (SELECT CAST(row_number() OVER (ORDER BY csize DESC, lbl)
                         AS BIGINT) AS rank,
                    lbl AS community, csize, intra, deg_sum,
                    floor(CAST(num AS DOUBLE) / den * 1e6) / 1e6
                      AS q_contrib,
                    floor(CAST(sum(num) OVER () AS DOUBLE) / den * 1e6)
                      / 1e6 AS q_total
             FROM per)
       WHERE rank <= 15 ORDER BY rank"""

  /** Generated k-core oracle: the same 6 peel rounds as an explicit
    * CTE chain (e0 → e6), one survivors row per round. Every round
    * CTE is AS MATERIALIZED — DuckDB's default inlining re-expands
    * e_{r-1} once per reference, which is the same ~4^rounds blowup
    * the Spark side avoids with localCheckpoint. */
  private def kcoreSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""d$r AS MATERIALIZED (SELECT n, count(*) AS deg
                  FROM (SELECT u AS n FROM e${r - 1}
                        UNION ALL SELECT v FROM e${r - 1})
                  GROUP BY n),
          k$r AS MATERIALIZED (SELECT n FROM d$r WHERE deg >= 8),
          e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
                  WHERE u IN (SELECT n FROM k$r)
                    AND v IN (SELECT n FROM k$r))"""
    }.mkString(",\n")
    val sel = (1 to 6).map { r =>
      s"""SELECT $r AS round,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM (SELECT u AS n FROM e$r
                        UNION SELECT v FROM e$r)) AS n_nodes,
                 (SELECT CAST(count(*) AS BIGINT) FROM e$r) AS n_edges"""
    }.mkString("\nUNION ALL\n")
    s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                                        l_partkey AS pk
                                 FROM lineitem WHERE l_partkey % 10 = 0),
            ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                                FROM ps a JOIN ps b
                                  ON a.ok = b.ok AND a.pk < b.pk),
            e0 AS MATERIALIZED (SELECT u, v FROM ed),
            $rounds
       SELECT CAST(round AS BIGINT) AS round, n_nodes, n_edges
       FROM ($sel) ORDER BY round"""
  }

  /** Generated BFS oracle: 6 frontier rounds, MATERIALIZED per round
    * (the kcore/labelProp inliner medicine). */
  private def bfsSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""nx$r AS MATERIALIZED (SELECT DISTINCT a.dst AS node
              FROM adj a JOIN f${r - 1} f ON a.src = f.node
              WHERE a.dst NOT IN (SELECT node FROM d${r - 1})),
          d$r AS MATERIALIZED (SELECT node, dist FROM d${r - 1}
              UNION ALL SELECT node, $r AS dist FROM nx$r),
          f$r AS MATERIALIZED (SELECT node FROM nx$r)"""
    }.mkString(",\n")
    s"""WITH ps AS MATERIALIZED (SELECT DISTINCT l_orderkey AS ok,
                                        l_partkey AS pk
                                 FROM lineitem WHERE l_partkey % 10 = 0),
            ed AS MATERIALIZED (SELECT DISTINCT a.pk AS u, b.pk AS v
                                FROM ps a JOIN ps b
                                  ON a.ok = b.ok AND a.pk < b.pk),
            adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM ed
                                 UNION ALL SELECT v, u FROM ed),
            nodes AS MATERIALIZED (SELECT DISTINCT src AS node
                                   FROM adj),
            seeds AS MATERIALIZED (SELECT node FROM
                (SELECT node, row_number() OVER (ORDER BY node) AS rn
                 FROM nodes) WHERE rn <= 3),
            d0 AS MATERIALIZED (SELECT node, 0 AS dist FROM seeds),
            f0 AS MATERIALIZED (SELECT node FROM d0),
            $rounds
       SELECT dist, n_nodes FROM (
         SELECT CAST(dist AS BIGINT) AS dist, count(*) AS n_nodes
         FROM d6 GROUP BY dist
         UNION ALL
         SELECT CAST(-1 AS BIGINT) AS dist, count(*) AS n_nodes
         FROM nodes WHERE node NOT IN (SELECT node FROM d6))
       WHERE n_nodes > 0 ORDER BY dist"""
  }

  val oracles: Map[String, String] = Map(
    "graph_kcore" -> kcoreSql,
    "graph_community_labelprop" -> labelPropSql,
    "graph_modularity" -> modularitySql,
    "graph_betweenness_khop" -> betweennessSql,
    "graph_random_walk_corpus" -> randomWalkSql,
    "graph_bfs_layers" -> bfsSql,
    "graph_wcc_components" ->
      """WITH RECURSIVE
              ps AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                     FROM lineitem WHERE l_partkey % 10 = 0),
              ed0 AS (SELECT DISTINCT a.pk AS u, b.pk AS v
                      FROM ps a JOIN ps b
                        ON a.ok = b.ok AND a.pk < b.pk),
              ed AS (SELECT u AS s, v AS t FROM ed0
                     UNION ALL SELECT v, u FROM ed0),
              verts AS (SELECT DISTINCT pk AS n FROM ps),
              reach AS (SELECT n AS node, n AS lab FROM verts
                        UNION
                        SELECT ed.t, r.lab
                        FROM reach r JOIN ed ON ed.s = r.node),
              comp AS (SELECT node, min(lab) AS rep
                       FROM reach GROUP BY node),
              mem AS (SELECT rep, count(*) AS n_members
                      FROM comp GROUP BY rep),
              ce AS (SELECT c.rep, count(*) AS n_edges
                     FROM ed0 JOIN comp c ON ed0.u = c.node
                     GROUP BY c.rep)
         SELECT mem.rep, n_members,
                coalesce(n_edges, 0) AS n_edges
         FROM mem LEFT JOIN ce ON mem.rep = ce.rep
         ORDER BY mem.rep""",
    "graph_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey * 2 AS pn,
                               l_suppkey * 2 + 1 AS sn
                        FROM lineitem WHERE l_partkey % 20 = 0),
              ed AS (SELECT pn AS src, sn AS dst FROM pairs
                     UNION ALL SELECT sn, pn FROM pairs),
              deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
              p0 AS (SELECT DISTINCT src AS node, CAST(1.0 AS DOUBLE) AS pr
                     FROM ed),
              p1 AS (SELECT dst AS node,
                            CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
                              * CAST(sum(CAST(p.pr / deg.deg
                                  AS DECIMAL(28,10))) AS DOUBLE) AS pr
                     FROM ed JOIN p0 p ON ed.src = p.node
                             JOIN deg ON deg.src = ed.src
                     GROUP BY dst),
              p2 AS (SELECT dst AS node,
                            CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
                              * CAST(sum(CAST(p.pr / deg.deg
                                  AS DECIMAL(28,10))) AS DOUBLE) AS pr
                     FROM ed JOIN p1 p ON ed.src = p.node
                             JOIN deg ON deg.src = ed.src
                     GROUP BY dst),
              p3 AS (SELECT dst AS node,
                            CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE)
                              * CAST(sum(CAST(p.pr / deg.deg
                                  AS DECIMAL(28,10))) AS DOUBLE) AS pr
                     FROM ed JOIN p2 p ON ed.src = p.node
                             JOIN deg ON deg.src = ed.src
                     GROUP BY dst)
         SELECT node,
                CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END
                  AS kind,
                CAST(floor(pr * 10000) AS DOUBLE) / 10000 AS pr4
         FROM p3 ORDER BY pr4 DESC, node LIMIT 20""",
    "graph_triangle_count" ->
      s"""WITH ${coSupplyEdgesSql(200)},
              tri AS (SELECT count(*) AS n_triangles
                      FROM ed e1 JOIN ed e2 ON e1.v = e2.u
                           JOIN ed e3 ON e1.u = e3.u AND e2.v = e3.v),
              deg AS (SELECT node, count(*) AS deg
                      FROM (SELECT u AS node FROM ed
                            UNION ALL SELECT v FROM ed)
                      GROUP BY node),
              wed AS (SELECT count(*) AS n_nodes,
                             CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                               AS n_wedges
                      FROM deg),
              ne AS (SELECT count(*) AS n_edges FROM ed)
         SELECT n_nodes, n_edges, n_wedges, n_triangles,
                CAST(floor(3.0 * n_triangles / n_wedges * 1e6) AS DOUBLE)
                  / 1e6 AS global_cc
         FROM tri, wed, ne""",
    "graph_link_prediction" ->
      s"""WITH ps AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                      FROM lineitem WHERE l_partkey % 20 = 0),
              ed AS (SELECT DISTINCT a.pk AS u, b.pk AS v
                     FROM ps a JOIN ps b
                       ON a.ok = b.ok AND a.pk < b.pk),
              adj AS (SELECT u, v FROM ed
                      UNION ALL SELECT v, u FROM ed),
              deg AS (SELECT u AS dn, count(*) AS deg FROM adj
                      GROUP BY 1),
              cn AS (SELECT a.u AS x, b.v AS y, count(*) AS cn
                     FROM adj a JOIN adj b ON a.v = b.u
                     WHERE a.u < b.v GROUP BY 1, 2),
              cand AS (SELECT cn.* FROM cn
                       LEFT JOIN ed ON x = u AND y = v
                       WHERE ed.u IS NULL)
         SELECT x, y, cn,
                round(cn / CAST(dx.deg + dy.deg - cn AS DOUBLE), 6)
                  AS jaccard
         FROM cand JOIN deg dx ON x = dx.dn
                   JOIN deg dy ON y = dy.dn
         ORDER BY jaccard DESC, x, y LIMIT 20""",
    "graph_degree_distribution" ->
      s"""WITH ${coSupplyEdgesSql(50)},
              deg AS (SELECT node, count(*) AS deg
                      FROM (SELECT u AS node FROM ed
                            UNION ALL SELECT v FROM ed)
                      GROUP BY node)
         SELECT CAST(floor(deg / 8) * 8 AS BIGINT) AS deg_bucket,
                count(*) AS n_nodes,
                min(deg) AS deg_min, max(deg) AS deg_max
         FROM deg GROUP BY 1 ORDER BY deg_bucket""",
  )
}
