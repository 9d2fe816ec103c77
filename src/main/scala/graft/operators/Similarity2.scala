package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{SessionScope, Tables}

/** Round-8 similarity/curation extensions: embedding-cluster semantic
  * dedup (the SemDeDup recipe: Abbas et al. 2023, arXiv:2303.09540)
  * and product-quantization ANN (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search").
  *
  * Scale design (100 TB):
  *   - `dedup_semantic_cluster` is pairwise ONLY within a centroid
  *     cell — the whole point of SemDeDup. The cell assignment is a
  *     zero-shuffle argmin fold against a centroid literal (the
  *     sim_ivf_ann r6 shape), the pair stage is a plain equi-join on
  *     cid, and cell population is corpus/k, so the quadratic term is
  *     bounded by the cell budget, never the corpus. In production k
  *     scales with the corpus to hold cells at a fixed budget; the
  *     fit loop machinery is demonstrated in sim_ivf_ann and shared
  *     deliberately — here the codebook is the deterministic seed so
  *     the DuckDB oracle replays assignment exactly.
  *   - `sim_pq_ann` stores a 4-byte code per vector (M=4 subspaces ×
  *     k=8 codewords) instead of 256 bytes of floats — the classic
  *     memory/scan trade for billion-vector ANN. Codebooks are
  *     k×dim-bounded (512 doubles) and driver-known after a one-round
  *     Lloyd fit (exact DECIMAL sums, ≤ M·k·16 = 512 groups on 4
  *     partitions); code assignment is a zero-shuffle argmin fold;
  *     query scoring is asymmetric distance (ADC): one broadcast-able
  *     (qid, sub, cid) distance table of |Q|·M·k rows joined to the
  *     codes on (sub, code) — never a scan of raw vectors.
  */
object Similarity2 {

  private def dbl(c: String): String =
    s"transform($c, x -> CAST(x AS DOUBLE))"
  private def fsum(arr: String): String =
    s"aggregate($arr, 0D, (a, x) -> a + x)"

  /** PQ geometry shared by sim_pq_ann / sim_pq_recall_eval AND their
    * generated oracles (single source — the two engines cannot drift
    * on M×K). Chosen by the r9 geometry sweep recorded in PLANS.md: the r8
    * shipped geometry M=4×K=8 (12 bits/vector) measured recall@10 ≈
    * 0.22 on the near-random fixtures — the harness said the code
    * budget, not the fit, was the binding constraint. M=32 × K=128
    * (224 bits = 28 B/vector, 9.1× compression) measures 0.78 @
    * sf0.01 / 0.72 @ sf0.1. Many small subspaces win HERE because the
    * fixture embeddings are near-random (variance uniform across
    * dims, nothing for larger subspaces to exploit); a production
    * corpus with correlated dims shifts the optimum toward fewer,
    * wider subspaces, so the sweep (PLANS.md r9) is worth re-running
    * per corpus. PqRounds is pinned at 1 because the generated
    * oracles replay exactly one Lloyd round. */
  val PqM = 32
  val PqK = 128
  val PqRounds = 1
  def PqSD: Int = 64 / PqM

  /** The shared PQ front half: fit the PqM × PqK codebook (seed =
    * sub-slices of the first PqK vectors, PqRounds exact-DECIMAL Lloyd
    * rounds, ≤ M·K·SD groups on 4 partitions), assign per-vector
    * codes, and score the 5-query probe batch by asymmetric distance.
    * Returns (cached emb — caller unpersists, per-(qid, vec_id)
    * DECIMAL ADC). Shared VERBATIM by sim_pq_ann (top-3 report) and
    * sim_pq_recall_eval (recall@10) so the two keys can never diverge
    * on fit or scoring — the MirroredLsh single-source precedent. */
  private def pqAdc(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val M = PqM; val K = PqK; val SD = PqSD
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(dbl("embedding")).as("v")).cache()
    val seed: Seq[Seq[Double]] = emb.orderBy("vec_id").limit(K)
      .select("v").collect().map(_.getSeq[Double](0)).toSeq
    var cb: Seq[Seq[Seq[Double]]] =
      Seq.tabulate(M)(sub => seed.map(v => v.slice(sub * SD, sub * SD + SD)))
    // ONE Literal node (typedLit), not an M*K*SD tree of lit() calls --
    // at K=256 the per-lit tree is ~16k expression nodes and Catalyst
    // analysis/codegen time dwarfs the data work (r9 sweep finding)
    def cbLit(c: Seq[Seq[Seq[Double]]]) = typedLit(c)
    // code assignment is the native pq_codes kernel (PqAssignCodes:
    // tight-loop argmin inside WholeStageCodegen, bit-identical to
    // the interpreted array_min(transform(...)) fold it replaced —
    // see the expression's Scaladoc for the r9 timing rationale):
    // one row per vector in, (vec_id, sub, cid) rows out
    def codesOf(c: Seq[Seq[Seq[Double]]]): DataFrame = emb
      .withColumn("codes", call_function("pq_codes", col("v"), cbLit(c)))
      .select(col("vec_id"), col("v"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    // Lloyd rounds: ≤ M·K·SD = 64·K groups per round — bound the fit
    // shuffle to 4 partitions regardless of corpus size (map-side
    // partials reduce before the exchange), as in sim_ivf_ann
    SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "4") {
      for (_ <- 0 until PqRounds) {
        val means = codesOf(cb)
          .select(col("sub"), col("cid"),
            posexplode(expr(s"slice(v, sub*$SD + 1, $SD)"))
              .as(Seq("dim", "x")))
          .groupBy("sub", "cid", "dim")
          .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
            count(lit(1))).as("m"))
          .collect()
          .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
            r.getDouble(3))).toMap
        cb = Seq.tabulate(M)(sm => Seq.tabulate(K)(c => Seq.tabulate(SD)(j =>
          means.getOrElse((sm, c, j), cb(sm)(c)(j)))))
      }
    }
    val codes = codesOf(cb).select("vec_id", "sub", "cid")
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), s -> slice(v, s*$SD + 1, $SD))"))
        .as(Seq("qsub", "qsv")))
    val dtab = q.withColumn("cb", cbLit(cb))
      .select(col("qid"), col("qsub"), posexplode(expr(
        s"""transform(sequence(0, ${K - 1}), c ->
              aggregate(zip_with(qsv, cb[qsub][c],
                (x, y) -> (x - y) * (x - y)),
              0D, (acc, t) -> acc + t))"""))
        .as(Seq("dcid", "dst")))
    // dtab is |Q|*M*K rows BY CONSTRUCTION — broadcast explicitly so
    // the plan cannot flip to a shuffle join when corpus-derived
    // stats mislead the planner at scale
    val adc = codes.join(broadcast(dtab),
        col("sub") === col("qsub") && col("cid") === col("dcid") &&
          col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dst").cast("decimal(28,10)")).as("adcd"))
    (emb, adc)
  }

  /** recall@10 of the ADC top-10 against exact-L2 truth per probe —
    * the body of sim_pq_recall_eval. */
  private def pqRecall(s: SparkSession, d: String): DataFrame = {
    val (emb, adc) = pqAdc(s, d)
    val wa = Window.partitionBy("qid").orderBy(col("adcd"), col("vec_id"))
    val adc10 = adc.withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= 10).select("qid", "vec_id")
    val probes = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wt = Window.partitionBy("qid").orderBy(col("l2"), col("vec_id"))
    val truth10 = emb.join(broadcast(probes), col("vec_id") =!= col("qid"))
      .withColumn("l2", expr(
        fsum("zip_with(qv, v, (x, y) -> (x - y) * (x - y))")))
      .withColumn("rn", row_number().over(wt))
      .filter(col("rn") <= 10).select(col("qid").as("tqid"),
        col("vec_id").as("tvid"))
    val hits = adc10.join(truth10,
        col("qid") === col("tqid") && col("vec_id") === col("tvid"))
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    val out = probes.select("qid").join(hits, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0)
          .as("recall10"))
      .orderBy("qid")
    emb.unpersist()
    out
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Maximal Marginal Relevance re-ranking (r9; Carbonell & Goldstein
    // 1998 — the diversity-aware retrieval layer every RAG stack puts
    // on top of raw ANN top-k): greedily pick k=5 of the top-20
    // candidates, step t maximizing λ·rel(c) − (1−λ)·max_{s∈S} sim(c,s)
    // with λ=0.7 — relevance traded against redundancy with what's
    // already selected. The greedy recurrence is UNROLLED into 5
    // relational steps (each: one max-sim aggregate against the
    // selected set + one per-probe argmax window) — k bounds the
    // unroll, so the shuffle count is fixed at plan time; the
    // candidate and pairwise-sim frames are localCheckpoint'ed once
    // (bounded: probes×20 and probes×20×19 rows) so the 5 steps
    // re-reference cheap leaves instead of re-deriving the
    // brute-force scoring subtree (the graph_kcore lesson). Scores
    // quantized floor-1e-4 with cid tiebreaks → fully deterministic
    // greedy path, mirrored step-for-step by MATERIALIZED CTEs in
    // the oracle.
    "sim_mmr_diversify" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val cand = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("rel",
          floor(expr("cosine_sim(qe, embedding)") * 10000.0) / 10000)
        .withColumn("rn", row_number().over(Window.partitionBy("qid")
          .orderBy(col("rel").desc, col("vec_id"))))
        .filter(col("rn") <= 20)
        .select(col("qid"), col("vec_id").as("cid"), col("rel"),
          col("embedding"))
        // ≤ probes×20 rows from here on: single partition so the 5
        // greedy steps run one task per stage instead of 32 empty ones
        .coalesce(1)
        .localCheckpoint()
      val psim = cand.as("a").join(cand.as("b"),
          col("a.qid") === col("b.qid") && col("a.cid") =!= col("b.cid"))
        .select(col("a.qid").as("qid"), col("a.cid").as("ca"),
          col("b.cid").as("cb"),
          (floor(expr("cosine_sim(a.embedding, b.embedding)") * 10000.0)
            / 10000).as("sim"))
        .coalesce(1)
        .localCheckpoint()
      var picked = cand
        .withColumn("r2", row_number().over(Window.partitionBy("qid")
          .orderBy(col("rel").desc, col("cid"))))
        .filter(col("r2") === 1)
        .select(col("qid"), col("cid"), col("rel"),
          col("rel").as("score"), lit(1L).as("pick"))
      for (t <- 2 to 5) {
        val ms = psim
          .join(picked.select(col("qid"), col("cid").as("cb")),
            Seq("qid", "cb"))
          .groupBy(col("qid"), col("ca"))
          .agg(max(col("sim")).as("msim"))
          .withColumnRenamed("ca", "cid")
        val pick = cand.select(col("qid"), col("cid"), col("rel"))
          .join(picked.select("qid", "cid"), Seq("qid", "cid"),
            "left_anti")
          .join(ms, Seq("qid", "cid"))
          .withColumn("score",
            floor((lit(0.7) * col("rel") - lit(0.3) * col("msim"))
              * 10000.0) / 10000)
          .withColumn("r2", row_number().over(Window.partitionBy("qid")
            .orderBy(col("score").desc, col("cid"))))
          .filter(col("r2") === 1)
          .select(col("qid"), col("cid"), col("rel"), col("score"),
            lit(t.toLong).as("pick"))
        // ≤ 5·t rows, but WITHOUT a per-round checkpoint the lazy
        // `picked` lineage is re-executed ~2^rounds times (ms join +
        // anti-join + union each re-reference it): measured 10-11 s
        // isolated; checkpointed, the whole key is ~2 s
        val p2 = picked.unionByName(pick).localCheckpoint()
        graft.Ckpt.free(picked) // superseded round (no-op on step-1's lazy frame)
        picked = p2
      }
      // the returned frame reads only the final picked checkpoint
      graft.Ckpt.free(cand, psim)
      picked.select(col("qid"), col("pick"), col("cid"), col("rel"),
        col("score")).orderBy("qid", "pick")
    }),

    // Farthest-point (k-center / k-means++-style) coreset selection
    // (r9; Gonzalez 1985 — 2-approximation to k-center; the
    // diversity-sampling primitive behind coreset curation, the
    // geometric dual of sim_mmr_diversify's relevance-diversity
    // trade): seed = vec_id 0, then 7 greedy rounds each picking the
    // point MAXIMIZING its min-distance to the selected set. The
    // min-distance column updates INCREMENTALLY — md_t = min(md_t−1,
    // d(·, new_pick)) — so each round is one broadcast of the single
    // new pick + one ONE-ROW argmax aggregate (max(struct(md,
    // −vec_id, v)) — the agg_minmax_by shape: map-side partials, no
    // single-partition sort of the corpus; r10, VERDICT r9 #1a),
    // never a re-scan against the whole selected set; md is
    // localCheckpoint'ed per round (the kcore/MMR plan-growth
    // lesson). Distances are exact squared-L2
    // folds mirrored by the list-op twin; quantized floor-1e-4 with
    // vec_id tiebreak → deterministic greedy path. Output: pick
    // order, vec_id, and the covering radius profile (each pick's
    // distance-at-selection — the k-center objective trace).
    "sample_farthest_point_coreset" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(dbl("embedding")).as("v"))
        .localCheckpoint()
      val d2 = "aggregate(zip_with(v, sv, (x, y) -> (x - y) * (x - y)), " +
        "0D, (acc, t) -> acc + t)"
      var picked = e.filter(col("vec_id") === 0L)
        .select(col("vec_id"), col("v").as("sv"))
        .select(col("vec_id"), col("sv"), lit(1L).as("pick"),
          lit(0.0).as("sel_dist"))
      var md = e.crossJoin(broadcast(
          picked.select(col("sv"))))
        .select(col("vec_id"), col("v"),
          (floor(expr(d2) * 10000.0) / 10000).as("md"))
        .filter(col("vec_id") =!= 0L)
        .localCheckpoint()
      for (t <- 2 to 8) {
        val next = md
          .agg(max(struct(col("md"),
            (lit(0L) - col("vec_id")).as("nv"), col("v"))).as("top"))
          .select((lit(0L) - col("top.nv")).as("vec_id"),
            col("top.v").as("sv"), lit(t.toLong).as("pick"),
            col("top.md").as("sel_dist"))
          .localCheckpoint()
        picked = picked.unionByName(next)
        val md2 = md
          .join(broadcast(next.select(col("vec_id").as("nid"),
            col("sv"))), col("vec_id") =!= col("nid"))
          .select(col("vec_id"), col("v"),
            least(col("md"), floor(expr(d2) * 10000.0) / 10000)
              .as("md"))
          .localCheckpoint()
        graft.Ckpt.free(md) // superseded min-distance column (r15 #5)
        md = md2
      }
      // `picked` is a lazy union over the per-round argmax checkpoints
      // (which must stay); the final md has no consumer at all
      graft.Ckpt.free(md)
      picked.select(col("pick"), col("vec_id"), col("sel_dist"))
        .orderBy("pick")
    }),

    // SemDeDup: k-means cells → pairwise cosine inside each cell only →
    // drop every vector that has a smaller-id neighbor above the
    // threshold. 0.35 is fixture-calibrated (the synthetic embeddings
    // are near-random: max pairwise cosine ≈ 0.51 at sf0.01; a
    // production corpus would sit at 0.95+): 61/500 drop at sf0.01,
    // 590/2000 at sf0.1. Declared result is the per-cell audit
    // (members / dropped / kept) — the numbers a curation run reports.
    "dedup_semantic_cluster" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(dbl("embedding")).as("v"))
      // deterministic seed codebook: the first 16 vectors in vec_id
      // order (k×dim-bounded collect — the sim_ivf_ann precedent)
      val cents: Seq[Seq[Double]] = emb.orderBy("vec_id").limit(16)
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
      val centArr = typedLit(cents)
      val assigned = emb
        .withColumn("cents", centArr)
        .withColumn("best", array_min(expr(
          s"""transform(sequence(0, ${cents.size - 1}), i -> named_struct(
                'dist', aggregate(zip_with(v, cents[i],
                          (x, y) -> (x - y) * (x - y)),
                        0D, (acc, t) -> acc + t),
                'cid', i))""")))
        .select(col("vec_id"), col("v"), col("best.cid").as("cid"))
      val x = assigned.select(col("cid"), col("vec_id").as("a"),
        col("v").as("va"))
      val y = assigned.select(col("cid").as("cidb"),
        col("vec_id").as("b"), col("v").as("vb"))
      val pairs = x.join(y, col("cid") === col("cidb") &&
          col("a") < col("b"))
        .withColumn("cos", expr(
          s"""${fsum("zip_with(va, vb, (x, y) -> x * y)")}
              / (sqrt(${fsum("zip_with(va, va, (x, y) -> x * y)")})
                 * sqrt(${fsum("zip_with(vb, vb, (x, y) -> x * y)")}))"""))
      val drops = pairs.filter(col("cos") >= 0.35)
        .select(col("cid"), col("b")).distinct()
      val mem = assigned.groupBy("cid").agg(count(lit(1)).as("n_members"))
      val dr = drops.groupBy("cid").agg(count(lit(1)).as("n_dropped"))
      mem.join(dr, Seq("cid"), "left")
        .select(col("cid"), col("n_members"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          (col("n_members") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_kept"))
        .orderBy("cid")
    }),

    // Product quantization: split 64 dims into PqM subspaces, fit
    // PqK codewords per subspace (seed = sub-slices of the first PqK
    // vectors, one exact-DECIMAL Lloyd round — the sim_ivf_ann
    // machinery at subspace granularity), store each vector as PqM
    // codes, and answer the 5-query probe batch with asymmetric
    // distance: d(q, x) ≈ Σ_sub ||q_sub − codeword(code(x, sub))||².
    // The DECIMAL(28,10)-summed ADC makes the ranking order- and
    // engine-independent; the oracle replays fit, codes, and ranking
    // digit-for-digit (generated from the same constants).
    "sim_pq_ann" -> ((s, d) => {
      val (emb, adc) = pqAdc(s, d)
      val w = Window.partitionBy("qid").orderBy(col("adcd"), col("vec_id"))
      val out = adc.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"),
          (floor(col("adcd").cast("double") * 1e4) / 1e4).as("adc4"))
        .orderBy("qid", "rank")
      emb.unpersist()
      out
    }),

    // PQ quality harness — the tuning companion of sim_ann_recall_eval
    // for the quantized family: recall@10 of the ADC top-10 against
    // exact-L2 truth per probe. This is the number that decides M×K
    // (and whether residual IVFADC is needed) before a 100 TB build —
    // it is exactly how the shipped PqM×PqK geometry was chosen (see
    // PLANS.md r9); the exact-L2 leg is bounded by the
    // broadcast 5-query batch over one corpus scan — never all-pairs.
    "sim_pq_recall_eval" -> ((s, d) => pqRecall(s, d)),

    "sim_ivfpq_ann" -> ivfpqQuery,
  )

  private lazy val ivfpqQuery: (SparkSession, String) => DataFrame = (s, d) => {
    val M = PqM; val K = PqK; val SD = PqSD; val NCELL = 16; val NPROBE = 2
    graft.functions.GraftFunctions.register(s)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), expr(dbl("embedding")).as("v")).cache()
    // coarse quantizer: seeded centroids (first NCELL vectors in
    // vec_id order — the iterative fit is demonstrated in sim_ivf_ann;
    // here the seeds keep the composed oracle replayable at half the
    // SQL) — k×dim-bounded driver state, as throughout
    val cents: Seq[Seq[Double]] = emb.orderBy("vec_id").limit(NCELL)
      .select("v").collect().map(_.getSeq[Double](0)).toSeq
    val centArr = typedLit(cents)
    // cell assignment (native pq_codes argmin over an M=1 "codebook"
    // of the NCELL centroids — same kernel, SD inferred as 64) +
    // residual r = v − centroid(cell), one projection
    val res = emb.withColumn("cents", centArr)
      .withColumn("cell", element_at(
        call_function("pq_codes", col("v"), typedLit(Seq(cents))), 1))
      .withColumn("r", expr("zip_with(v, cents[cell], (x, y) -> x - y)"))
      .select(col("vec_id"), col("cell"), col("r"))
    // ONE shared PQ codebook across cells (standard IVFADC), seeded
    // from the residuals of the first K vectors, one exact-DECIMAL
    // Lloyd round (≤ M·K·SD = 64·K groups on 4 partitions); residual
    // code assignment is the same native PqAssignCodes kernel as
    // sim_pq_ann (bit-identical to the interpreted fold it replaced)
    val seedRes: Seq[Seq[Double]] = res.orderBy("vec_id").limit(K)
      .select("r").collect().map(_.getSeq[Double](0)).toSeq
    var cb: Seq[Seq[Seq[Double]]] =
      Seq.tabulate(M)(sub => seedRes.map(r => r.slice(sub * SD, sub * SD + SD)))
    def cbLit(c: Seq[Seq[Seq[Double]]]) = typedLit(c)
    def codesOf(c: Seq[Seq[Seq[Double]]]): DataFrame = res
      .withColumn("codes", call_function("pq_codes", col("r"), cbLit(c)))
      .select(col("vec_id"), col("cell"), col("r"),
        posexplode(col("codes")).as(Seq("sub", "cid")))
    SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "4") {
      val means = codesOf(cb)
        .select(col("sub"), col("cid"),
          posexplode(expr(s"slice(r, sub*$SD + 1, $SD)"))
            .as(Seq("dim", "x")))
        .groupBy("sub", "cid", "dim")
        .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
        .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)),
          r.getDouble(3))).toMap
      cb = Seq.tabulate(M)(sm => Seq.tabulate(K)(c => Seq.tabulate(SD)(j =>
        means.getOrElse((sm, c, j), cb(sm)(c)(j)))))
    }
    val codes = codesOf(cb).select("vec_id", "cell", "sub", "cid")
    // probe batch: top-NPROBE cells per query by coarse distance, then
    // a PER-PROBED-CELL query residual → |Q|·NPROBE·M·K distance table
    // (320 rows — broadcast side), joined to codes on (cell, sub, code)
    val q = emb.filter(col("vec_id") < 5)
      .withColumn("cents", centArr)
      .withColumn("probed", slice(array_sort(expr(
        s"""transform(sequence(0, ${NCELL - 1}), i -> named_struct(
              'dist', aggregate(zip_with(v, cents[i],
                        (x, y) -> (x - y) * (x - y)),
                      0D, (acc, t) -> acc + t),
              'cid', i))""")), 1, NPROBE))
      .select(col("vec_id").as("qid"), col("v"),
        explode(expr("transform(probed, p -> p.cid)")).as("pcell"))
      .withColumn("cents", centArr)
      .withColumn("qr", expr("zip_with(v, cents[pcell], (x, y) -> x - y)"))
      .select(col("qid"), col("pcell"), posexplode(expr(
        s"transform(sequence(0, ${M - 1}), s -> slice(qr, s*$SD + 1, $SD))"))
        .as(Seq("qsub", "qsv")))
    val dtab = q.withColumn("cb", cbLit(cb))
      .select(col("qid"), col("pcell"), col("qsub"), posexplode(expr(
        s"""transform(sequence(0, ${K - 1}), c ->
              aggregate(zip_with(qsv, cb[qsub][c],
                (x, y) -> (x - y) * (x - y)),
              0D, (acc, t) -> acc + t))"""))
        .as(Seq("dcid", "dst")))
    // |Q|*NPROBE*M*K rows by construction — pin the broadcast
    val adc = codes.join(broadcast(dtab),
        col("cell") === col("pcell") && col("sub") === col("qsub") &&
          col("cid") === col("dcid") && col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("dst").cast("decimal(28,10)")).as("adcd"))
    val w = Window.partitionBy("qid").orderBy(col("adcd"), col("vec_id"))
    val out = adc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"),
        (floor(col("adcd").cast("double") * 1e4) / 1e4).as("adc4"))
      .orderBy("qid", "rank")
    emb.unpersist()
    out
  }

  /** Shared PQ-fit front half of the generated oracles — interpolated
    * from the SAME PqM/PqK/PqSD constants the Spark path uses, so an
    * M×K geometry change cannot desync the two engines. Replays:
    * sub-slicing, seed codebook (sub-slices of the first PqK
    * vectors), exactly ONE exact-DECIMAL Lloyd round (hence the
    * PqRounds=1 pin), final code assignment, probe distance table,
    * and the DECIMAL ADC sums. */
  private val pqOracleCore: String =
    s"""WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              subs AS (SELECT unnest(range(0, $PqM)) AS sub),
              sv AS (SELECT e.vec_id, s.sub,
                            e.v[s.sub*$PqSD + 1 : s.sub*$PqSD + $PqSD] AS sv
                     FROM e, subs s),
              cb0 AS (SELECT s.sub,
                             CAST(row_number() OVER (PARTITION BY s.sub
                               ORDER BY q.vec_id) AS INTEGER) - 1 AS cid,
                             q.v[s.sub*$PqSD + 1 : s.sub*$PqSD + $PqSD] AS cw
                      FROM (SELECT vec_id, v FROM e
                            ORDER BY vec_id LIMIT $PqK) q, subs s),
              a0 AS (SELECT vec_id, sub, sv, cid FROM (
                       SELECT su.vec_id, su.sub, su.sv, c.cid,
                              row_number() OVER (
                                PARTITION BY su.vec_id, su.sub
                                ORDER BY list_aggregate(list_transform(
                                  range(1, ${PqSD + 1}), i -> (su.sv[i] - c.cw[i])
                                    * (su.sv[i] - c.cw[i])), 'sum'), c.cid)
                                AS rn
                       FROM sv su JOIN cb0 c ON c.sub = su.sub)
                     WHERE rn = 1),
              m1 AS (SELECT sub, cid, dim,
                            CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                              / count(*) AS m
                     FROM (SELECT sub, cid, dd.dim, sv[dd.dim + 1] AS x
                           FROM a0,
                             (SELECT unnest(range(0, $PqSD)) AS dim) dd)
                     GROUP BY sub, cid, dim),
              cb1 AS (SELECT c.sub, c.cid,
                             list(coalesce(m1.m, c.cw[dd.dim + 1])
                                  ORDER BY dd.dim) AS cw
                      FROM cb0 c
                      CROSS JOIN (SELECT unnest(range(0, $PqSD)) AS dim) dd
                      LEFT JOIN m1 ON m1.sub = c.sub AND m1.cid = c.cid
                        AND m1.dim = dd.dim
                      GROUP BY c.sub, c.cid),
              codes AS (SELECT vec_id, sub, cid FROM (
                          SELECT su.vec_id, su.sub, c.cid,
                                 row_number() OVER (
                                   PARTITION BY su.vec_id, su.sub
                                   ORDER BY list_aggregate(list_transform(
                                     range(1, ${PqSD + 1}), i -> (su.sv[i] - c.cw[i])
                                       * (su.sv[i] - c.cw[i])), 'sum'),
                                     c.cid) AS rn
                          FROM sv su JOIN cb1 c ON c.sub = su.sub)
                        WHERE rn = 1),
              q AS (SELECT vec_id AS qid, sub AS qsub, sv AS qsv
                    FROM sv WHERE vec_id < 5),
              dtab AS (SELECT q.qid, q.qsub, c.cid AS dcid,
                              list_aggregate(list_transform(range(1, ${PqSD + 1}),
                                i -> (q.qsv[i] - c.cw[i])
                                  * (q.qsv[i] - c.cw[i])), 'sum') AS dst
                       FROM q JOIN cb1 c ON c.sub = q.qsub),
              adc AS (SELECT d.qid, co.vec_id,
                             sum(CAST(d.dst AS DECIMAL(28,10))) AS adcd
                      FROM codes co JOIN dtab d
                        ON d.qsub = co.sub AND d.dcid = co.cid
                          AND co.vec_id <> d.qid
                      GROUP BY d.qid, co.vec_id)"""

  /** Generated MMR oracle: the same 5 greedy steps as MATERIALIZED
    * CTE chain (s1 → r5), mirroring the unrolled Spark plan
    * step-for-step; cosine mirrors the cosine_sim kernel via the
    * sim_cosine_topk list-op twin. */
  private def mmrSql: String = {
    val steps = (2 to 5).map { t =>
      s"""m$t AS (SELECT p.qid AS qid, p.ca AS cid, max(p.sim) AS msim
                 FROM psim p JOIN r${t - 1} s
                   ON p.qid = s.qid AND p.cb = s.cid
                 GROUP BY p.qid, p.ca),
          sc$t AS (SELECT c.qid AS qid, c.cid AS cid, c.rel AS rel,
                          floor((0.7 * c.rel - 0.3 * m.msim) * 10000.0)
                            / 10000 AS score
                   FROM candr c JOIN m$t m
                     ON c.qid = m.qid AND c.cid = m.cid
                   WHERE NOT EXISTS (SELECT 1 FROM r${t - 1} s
                                     WHERE s.qid = c.qid
                                       AND s.cid = c.cid)),
          s$t AS MATERIALIZED (SELECT qid, cid, rel, score, $t AS pick
                  FROM (SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, cid) AS r2
                        FROM sc$t) WHERE r2 = 1),
          r$t AS MATERIALIZED (SELECT * FROM r${t - 1}
                  UNION ALL SELECT * FROM s$t)"""
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
         nv AS MATERIALIZED (SELECT vec_id, v,
              sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                AS nrm
            FROM e),
         qv AS (SELECT vec_id AS qid, v AS qvec, nrm AS qnrm
                FROM nv WHERE vec_id < 5),
         scall AS (SELECT qid, vec_id AS cid, v, nrm,
                floor(list_aggregate(list_transform(
                        range(1, len(qvec) + 1), i -> qvec[i] * v[i]),
                      'sum') / (qnrm * nrm) * 10000.0) / 10000 AS rel
            FROM qv JOIN nv ON vec_id <> qid),
         candr AS MATERIALIZED (SELECT qid, cid, v, nrm, rel
            FROM (SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY rel DESC, cid) AS rn
                  FROM scall) WHERE rn <= 20),
         psim AS MATERIALIZED (SELECT a.qid AS qid, a.cid AS ca,
                b.cid AS cb,
                floor(list_aggregate(list_transform(
                        range(1, len(a.v) + 1), i -> a.v[i] * b.v[i]),
                      'sum') / (a.nrm * b.nrm) * 10000.0) / 10000 AS sim
            FROM candr a JOIN candr b
              ON a.qid = b.qid AND a.cid <> b.cid),
         s1 AS MATERIALIZED (SELECT qid, cid, rel, rel AS score,
                1 AS pick
            FROM (SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY rel DESC, cid) AS r2
                  FROM candr) WHERE r2 = 1),
         r1 AS (SELECT * FROM s1),
         $steps
       SELECT qid, CAST(pick AS BIGINT) AS pick, cid, rel, score
       FROM r5 ORDER BY qid, pick"""
  }

  /** Generated farthest-point-coreset oracle: the same 7 greedy
    * rounds with incremental min-distance, MATERIALIZED per round. */
  private def fpcSql: String = {
    def dist(vE: String, svE: String) =
      s"""floor(list_aggregate(list_transform(range(1, len($vE) + 1),
            i -> ($vE[i] - $svE[i]) * ($vE[i] - $svE[i])),
          'sum') * 10000.0) / 10000"""
    val rounds = (2 to 8).map { t =>
      val prev = t - 1
      s"""p$t AS MATERIALIZED (SELECT vec_id, $t AS pick,
              md AS sel_dist
              FROM (SELECT *, row_number() OVER (ORDER BY md DESC,
                      vec_id) AS rn FROM md$prev) WHERE rn = 1),
          md$t AS MATERIALIZED (
            SELECT m.vec_id AS vec_id, m.v AS v,
                   least(m.md, ${dist("m.v", "s.sv")}) AS md
            FROM md$prev m CROSS JOIN
                 (SELECT e.v AS sv FROM p$t JOIN e
                    ON p$t.vec_id = e.vec_id) s
            WHERE m.vec_id <> (SELECT vec_id FROM p$t))"""
    }.mkString(",\n")
    val sel = (2 to 8).map(t =>
      s"SELECT CAST(pick AS BIGINT) AS pick, vec_id, sel_dist FROM p$t")
      .mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
         md1 AS MATERIALIZED (
           SELECT e.vec_id AS vec_id, e.v AS v,
                  ${dist("e.v", "s.sv")} AS md
           FROM e CROSS JOIN (SELECT v AS sv FROM e WHERE vec_id = 0) s
           WHERE e.vec_id <> 0),
         $rounds
       SELECT pick, vec_id, sel_dist FROM (
         SELECT CAST(1 AS BIGINT) AS pick, CAST(0 AS BIGINT) AS vec_id,
                0.0 AS sel_dist
         UNION ALL
         $sel) ORDER BY pick"""
  }

  val oracles: Map[String, String] = Map(
    "sim_mmr_diversify" -> mmrSql,
    "sample_farthest_point_coreset" -> fpcSql,
    "dedup_semantic_cluster" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                              AS INTEGER) - 1 AS cid, v AS cv
                     FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
              a AS (SELECT vec_id, v, cid FROM (
                      SELECT e.vec_id, e.v, c.cid,
                             row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY list_aggregate(list_transform(
                                 range(1, 65), i -> (e.v[i] - c.cv[i])
                                   * (e.v[i] - c.cv[i])), 'sum'), c.cid)
                               AS rn
                      FROM e, c0 c) WHERE rn = 1),
              p AS (SELECT x.cid, x.vec_id AS a, y.vec_id AS b,
                           list_aggregate(list_transform(range(1, 65),
                             i -> x.v[i] * y.v[i]), 'sum')
                           / (sqrt(list_aggregate(list_transform(range(1, 65),
                                i -> x.v[i] * x.v[i]), 'sum'))
                              * sqrt(list_aggregate(list_transform(range(1, 65),
                                  i -> y.v[i] * y.v[i]), 'sum'))) AS cos
                    FROM a x JOIN a y
                      ON x.cid = y.cid AND x.vec_id < y.vec_id),
              drops AS (SELECT DISTINCT cid, b FROM p WHERE cos >= 0.35),
              mem AS (SELECT cid, count(*) AS n_members FROM a GROUP BY cid),
              dr AS (SELECT cid, count(*) AS n_dropped
                     FROM drops GROUP BY cid)
         SELECT m.cid, m.n_members,
                coalesce(dr.n_dropped, 0) AS n_dropped,
                m.n_members - coalesce(dr.n_dropped, 0) AS n_kept
         FROM mem m LEFT JOIN dr ON dr.cid = m.cid
         ORDER BY m.cid""",
    "sim_pq_ann" ->
      s"""$pqOracleCore
         SELECT qid, rank, vec_id,
                CAST(floor(CAST(adcd AS DOUBLE) * 10000) AS DOUBLE) / 10000
                  AS adc4
         FROM (SELECT qid, vec_id, adcd,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY adcd, vec_id) AS rank
               FROM adc)
         WHERE rank <= 3 ORDER BY qid, rank""",
    "sim_pq_recall_eval" ->
      s"""$pqOracleCore,
              adc10 AS (SELECT qid, vec_id FROM (
                          SELECT qid, vec_id,
                                 row_number() OVER (PARTITION BY qid
                                   ORDER BY adcd, vec_id) AS rn
                          FROM adc) WHERE rn <= 10),
              probes AS (SELECT vec_id AS qid, v AS qv FROM e
                         WHERE vec_id < 5),
              truth10 AS (SELECT qid AS tqid, vec_id AS tvid FROM (
                            SELECT p.qid, x.vec_id,
                                   row_number() OVER (PARTITION BY p.qid
                                     ORDER BY list_aggregate(list_transform(
                                       range(1, 65), i -> (p.qv[i] - x.v[i])
                                         * (p.qv[i] - x.v[i])), 'sum'),
                                       x.vec_id) AS rn
                            FROM probes p JOIN e x
                              ON x.vec_id <> p.qid) WHERE rn <= 10),
              hits AS (SELECT a.qid, count(*) AS n_hit
                       FROM adc10 a JOIN truth10 t
                         ON t.tqid = a.qid AND t.tvid = a.vec_id
                       GROUP BY a.qid)
         SELECT p.qid, coalesce(h.n_hit, 0) AS n_hit,
                CAST(coalesce(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall10
         FROM probes p LEFT JOIN hits h ON h.qid = p.qid
         ORDER BY p.qid""",
    "sim_ivfpq_ann" ->
      s"""WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                              AS INTEGER) - 1 AS cell, v AS cv
                     FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
              av AS (SELECT vec_id, v, cell, cv FROM (
                       SELECT e.vec_id, e.v, c.cell, c.cv,
                              row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_aggregate(list_transform(
                                  range(1, 65), i -> (e.v[i] - c.cv[i])
                                    * (e.v[i] - c.cv[i])), 'sum'), c.cell)
                                AS rn
                       FROM e, c0 c) WHERE rn = 1),
              res AS (SELECT vec_id, cell,
                             list_transform(range(1, 65),
                               i -> v[i] - cv[i]) AS r
                      FROM av),
              subs AS (SELECT unnest(range(0, $PqM)) AS sub),
              rsv AS (SELECT res.vec_id, res.cell, s.sub,
                             res.r[s.sub*$PqSD + 1 : s.sub*$PqSD + $PqSD] AS sv
                      FROM res, subs s),
              cb0 AS (SELECT s.sub,
                             CAST(row_number() OVER (PARTITION BY s.sub
                               ORDER BY q.vec_id) AS INTEGER) - 1 AS cid,
                             q.r[s.sub*$PqSD + 1 : s.sub*$PqSD + $PqSD] AS cw
                      FROM (SELECT vec_id, r FROM res
                            ORDER BY vec_id LIMIT $PqK) q, subs s),
              a0 AS (SELECT vec_id, cell, sub, sv, cid FROM (
                       SELECT su.vec_id, su.cell, su.sub, su.sv, c.cid,
                              row_number() OVER (
                                PARTITION BY su.vec_id, su.sub
                                ORDER BY list_aggregate(list_transform(
                                  range(1, ${PqSD + 1}), i -> (su.sv[i] - c.cw[i])
                                    * (su.sv[i] - c.cw[i])), 'sum'), c.cid)
                                AS rn
                       FROM rsv su JOIN cb0 c ON c.sub = su.sub)
                     WHERE rn = 1),
              m1 AS (SELECT sub, cid, dim,
                            CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                              / count(*) AS m
                     FROM (SELECT sub, cid, dd.dim, sv[dd.dim + 1] AS x
                           FROM a0,
                             (SELECT unnest(range(0, $PqSD)) AS dim) dd)
                     GROUP BY sub, cid, dim),
              cb1 AS (SELECT c.sub, c.cid,
                             list(coalesce(m1.m, c.cw[dd.dim + 1])
                                  ORDER BY dd.dim) AS cw
                      FROM cb0 c
                      CROSS JOIN (SELECT unnest(range(0, $PqSD)) AS dim) dd
                      LEFT JOIN m1 ON m1.sub = c.sub AND m1.cid = c.cid
                        AND m1.dim = dd.dim
                      GROUP BY c.sub, c.cid),
              codes AS (SELECT vec_id, cell, sub, cid FROM (
                          SELECT su.vec_id, su.cell, su.sub, c.cid,
                                 row_number() OVER (
                                   PARTITION BY su.vec_id, su.sub
                                   ORDER BY list_aggregate(list_transform(
                                     range(1, ${PqSD + 1}), i -> (su.sv[i] - c.cw[i])
                                       * (su.sv[i] - c.cw[i])), 'sum'),
                                     c.cid) AS rn
                          FROM rsv su JOIN cb1 c ON c.sub = su.sub)
                        WHERE rn = 1),
              probed AS (SELECT qid, v, pcell FROM (
                           SELECT e.vec_id AS qid, e.v, c.cell AS pcell,
                                  row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY list_aggregate(list_transform(
                                      range(1, 65), i -> (e.v[i] - c.cv[i])
                                        * (e.v[i] - c.cv[i])), 'sum'),
                                      c.cell) AS rn
                           FROM e, c0 c WHERE e.vec_id < 5)
                         WHERE rn <= 2),
              qr AS (SELECT p.qid, p.pcell,
                            list_transform(range(1, 65),
                              i -> p.v[i] - c.cv[i]) AS qr
                     FROM probed p JOIN c0 c ON c.cell = p.pcell),
              qs AS (SELECT qid, pcell, s.sub,
                            qr[s.sub*$PqSD + 1 : s.sub*$PqSD + $PqSD] AS qsv
                     FROM qr, subs s),
              dtab AS (SELECT q.qid, q.pcell, q.sub AS qsub,
                              c.cid AS dcid,
                              list_aggregate(list_transform(range(1, ${PqSD + 1}),
                                i -> (q.qsv[i] - c.cw[i])
                                  * (q.qsv[i] - c.cw[i])), 'sum') AS dst
                       FROM qs q JOIN cb1 c ON c.sub = q.sub),
              adc AS (SELECT d.qid, co.vec_id,
                             sum(CAST(d.dst AS DECIMAL(28,10))) AS adcd
                      FROM codes co JOIN dtab d
                        ON d.pcell = co.cell AND d.qsub = co.sub
                          AND d.dcid = co.cid AND co.vec_id <> d.qid
                      GROUP BY d.qid, co.vec_id)
         SELECT qid, rank, vec_id,
                CAST(floor(CAST(adcd AS DOUBLE) * 10000) AS DOUBLE) / 10000
                  AS adc4
         FROM (SELECT qid, vec_id, adcd,
                      row_number() OVER (PARTITION BY qid
                        ORDER BY adcd, vec_id) AS rank
               FROM adc)
         WHERE rank <= 3 ORDER BY qid, rank""",
  )
}
