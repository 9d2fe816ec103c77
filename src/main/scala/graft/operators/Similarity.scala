package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import graft.{SessionScope, Tables}

/** Similarity search, multimodal columns, and the custom-function
  * surface (SURVEY.md §2.10 — north-star components).
  *
  * Cosine parity strategy: BOTH engines compute the dot product and
  * norms as a left-to-right fold over double-cast elements (Spark
  * `aggregate(zip_with(...))` HOFs ≡ DuckDB `list_aggregate(
  * list_transform(range...))`), so the double bits agree exactly;
  * ranking orders by round(cos,4) with a vec_id tiebreak so no
  * low-bit drift can flip rows.
  *
  * Scale notes (100 TB):
  *   - `sim_cosine_topk` is the BRUTE-FORCE baseline: the query side
  *     is a small broadcast, candidates stream through one scan, and
  *     the per-query top-k is a bounded window — linear in the corpus,
  *     never all-pairs.
  *   - `sim_lsh_ann` is the scale path: seeded random-projection LSH
  *     buckets co-locate near neighbors so the join touches only
  *     hash-colliding pairs (SURVEY §7.4 — brute force only within
  *     buckets).
  *   - `udaf_typed` (vector centroid) partial-aggregates map-side: the
  *     shuffle carries one 64-dim buffer per (partition × label), not
  *     rows.
  *   - `udf_scalar` documents the perf cliff: a JVM UDF breaks
  *     whole-stage codegen, so the declared query keeps the UDF off
  *     the hot columns and the oracle proves the same result is
  *     SQL-expressible (the built-in form is what a 100 TB pipeline
  *     should run).
  */
object Similarity {
  type Q = (SparkSession, String) => DataFrame

  /** Double-cast a float-array column (exact widening). */
  private def dbl(c: String): String = s"transform($c, x -> CAST(x AS DOUBLE))"
  /** Left-fold sum of a double-array SQL expression. */
  private def fsum(arr: String): String = s"aggregate($arr, 0D, (a, x) -> a + x)"

  // Typed centroid aggregation over ArrayType(FloatType) — the
  // `Aggregator[IN,BUF,OUT]` surface (SURVEY §2.10 udaf_typed).
  case class CentBuf(sum: Array[Double], n: Long)
  object VecCentroid extends Aggregator[Seq[Float], CentBuf, Array[Double]] {
    private val dim = 64
    def zero: CentBuf = CentBuf(Array.fill(dim)(0.0), 0L)
    def reduce(b: CentBuf, v: Seq[Float]): CentBuf = {
      var i = 0; while (i < dim) { b.sum(i) += v(i); i += 1 }
      CentBuf(b.sum, b.n + 1)
    }
    def merge(a: CentBuf, b: CentBuf): CentBuf = {
      var i = 0; while (i < dim) { a.sum(i) += b.sum(i); i += 1 }
      CentBuf(a.sum, a.n + b.n)
    }
    def finish(b: CentBuf): Array[Double] = b.sum.map(_ / b.n)
    def bufferEncoder: ExpressionEncoder[CentBuf] = ExpressionEncoder[CentBuf]()
    def outputEncoder: ExpressionEncoder[Array[Double]] = ExpressionEncoder[Array[Double]]()
  }

  val queries: Map[String, Q] = Map(
    // Brute-force cosine top-3 neighbors for query vectors vec_id<5.
    // Scoring uses the native codegen'd CosineSimilarity expression
    // (graft.functions) — one fused loop per pair, bit-identical to
    // the HOF formulation the oracle mirrors.
    "sim_cosine_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      val w = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rank")
    }),

    // Multimodal row: text metadata ⋈ vector column + binary-width
    // leg, mixed-type projection.
    "multimodal_join" -> ((s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .filter(col("doc_id") % 7 === 0)
        .select(
          col("doc_id"), col("lang"), col("n_chars"), col("label"),
          round(sqrt(expr(fsum(s"transform(${dbl("embedding")}, x -> x * x)"))), 4)
            .as("vnorm"),
          length(col("text").cast("binary")).as("n_bytes"))
        .orderBy("doc_id")),

    // Custom typed aggregation: per-label 64-dim centroid.
    "udaf_typed" -> ((s, d) => {
      val centroid = udaf(VecCentroid, ExpressionEncoder[Seq[Float]]())
      Tables.embeddings(s, d)
        .groupBy("label")
        .agg(count(lit(1)).as("n"), centroid(col("embedding")).as("cent"))
        .select(
          col("label"), col("n"),
          round(element_at(col("cent"), 1), 4).as("c0"),
          round(element_at(col("cent"), 2), 4).as("c1"),
          round(sqrt(expr(fsum("transform(cent, x -> x * x)"))), 4).as("cnorm"))
        .orderBy("label")
    }),

    // Scalar UDF: text normalization (trim + lower + collapse runs of
    // spaces). The oracle proves the identical result is expressible
    // with built-ins — which is what the hot path should use.
    "udf_scalar" -> ((s, d) => {
      val normUdf = udf((t: String) =>
        if (t == null) null else t.trim.toLowerCase.replaceAll(" +", " "))
      Tables.documents(s, d)
        .filter(col("doc_id") % 131 === 0)
        .select(
          col("doc_id"),
          substring(normUdf(col("text")), 1, 40).as("norm40"),
          length(normUdf(col("text"))).as("nlen"))
        .orderBy("doc_id")
    }),

    // IVF (inverted-file) ANN — the second scale path beside LSH:
    // a coarse quantizer partitions the corpus into 16 cells; each
    // probe searches only its 2 nearest cells with the native cosine
    // kernel. At 100 TB the cell id becomes the partition key, so a
    // probe touches 2/16ths of the data; assignment is a
    // broadcast-centroid linear scan, exactly this plan. Since r5 the
    // quantizer is a hand-rolled Lloyd loop the ORACLE REPRODUCES
    // digit-for-digit (previously seeded MLlib k-means — no oracle):
    // seeds = the 16 lowest-id vectors, 2 update rounds, per-dim
    // means through DECIMAL(28,10) sums (exact, order-independent —
    // the scaled sums stay < 2^53 so the decimal→double conversion
    // is exact in both engines), distances/cosines as index-order
    // left folds. Empty cells keep their previous centroid.
    "sim_ivf_ann" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      import s.implicits._
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          expr(dbl("embedding")).as("v"))
        .cache()
      val dim = 64
      var cents: Seq[(Int, Seq[Double])] = emb.orderBy("vec_id").limit(16)
        .select("v").collect().map(_.getSeq[Double](0)).toSeq
        .zipWithIndex.map { case (v, i) => (i, v) }
      // Assignment is a single projection (r6): the 16 centroids are
      // driver-known, so each row folds its 16 distances into an array
      // of (dist, cid) structs and array_sort picks the argmin inline —
      // zero shuffle, no 16× row blowup (the r5 shape crossJoined the
      // centroids and ran a row_number window over 16× the corpus).
      // Same index-order left-fold distance and (dist, cid) tie-break,
      // so the oracle's digit-for-digit replay is unchanged.
      // One lambda evaluated against a nested centroid-array LITERAL
      // (16×64 doubles fold to a single Literal) instead of 16 inlined
      // per-centroid fold expressions: the distance math and the
      // (dist, cid) tie-break are unchanged (same index-order left fold
      // per centroid), but the expression tree the analyzer/optimizer
      // walks per round is ~16× smaller (r6: the inlined shape spent
      // its whole budget re-planning, not executing).
      def assign(c: Seq[(Int, Seq[Double])]): DataFrame = {
        val centArr = array(c.map { case (_, cv) => array(cv.map(lit): _*) }: _*)
        emb
          .withColumn("cents", centArr)
          .withColumn("best", element_at(array_sort(expr(
            s"""transform(sequence(0, ${c.size - 1}), i -> named_struct(
                  'dist', aggregate(zip_with(v, cents[i],
                            (x, y) -> (x - y) * (x - y)),
                          0D, (acc, t) -> acc + t),
                  'cid', i))""")), 1))
          .select(col("vec_id"), col("embedding"), col("v"),
            col("best.cid").as("cid"))
      }
      // The fit loop's only shuffle is a (cid, dim)-keyed aggregate with
      // ≤ 16·64 = 1024 groups; running it on the session's 32 partitions
      // pays ~10× empty-task overhead per round at sample scale. 4
      // partitions bound the fit regardless of corpus size (map-side
      // partial aggregation reduces to ≤1024 rows before the exchange);
      // the conf is restored before the returned plan is built, so the
      // probe query still runs at the session setting.
      SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "4") {
        for (_ <- 1 to 2) {
          val means = assign(cents)
            .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
            .groupBy("cid", "dim")
            .agg((sum(col("x").cast("decimal(28,10)")).cast("double") /
              count(lit(1))).as("m"))
            .collect()
            .map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
          cents = cents.map { case (cid, old) =>
            (cid, Seq.tabulate(dim)(j => means.getOrElse((cid, j), old(j))))
          }
        }
      }
      val assigned = assign(cents).withColumnRenamed("cid", "cell")
      val cdf = cents.toDF("cid", "cv")
      val probes = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"),
          col("v").as("qv"))
      val wc = Window.partitionBy("qid")
        .orderBy(col("csim").desc, col("cid"))
      val probeCells = probes.crossJoin(broadcast(cdf))
        .withColumn("csim", expr(
          s"""${fsum("zip_with(qv, cv, (x, y) -> x * y)")}
              / (sqrt(${fsum("zip_with(qv, qv, (x, y) -> x * y)")})
                 * sqrt(${fsum("zip_with(cv, cv, (x, y) -> x * y)")}))"""))
        .withColumn("rn", row_number().over(wc))
        .filter(col("rn") <= 2)
        .select("qid", "qe", "cid")
      val wr = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      val out = probeCells.join(assigned,
          col("cell") === col("cid") && col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("qid", "rank")
      // the cache only serves the iterative fit; the returned plan may
      // recompute the cheap projection — don't pin it for the session
      emb.unpersist()
      out
    }),

    // Approximate NN at scale: sign-LSH in pure DataFrame ops — b
    // sign-bits per table bucket the corpus, L tables OR-amplify
    // recall, and the exact cosine kernel runs ONLY on hash-colliding
    // pairs (never all-pairs); the bucket join is a plain shuffled
    // equi-join on (table, signature) and the scoring loop is the
    // codegen'd native expression. Since r5 the hyperplanes are the
    // ORACLE-MIRRORED md5-Rademacher set (MirroredLsh), so this key is
    // oracle-checked end-to-end (previously no-oracle): DuckDB
    // reproduces the exact candidate set and the fingerprint.
    // Aggregates are drift-proofed: decimal-quantized cosine sum for
    // the mean, floor-scale for both outputs (§5.4.2).
    "sim_lsh_ann" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      MirroredLsh.candidates(
          Tables.embeddings(s, d).select(col("vec_id"), col("embedding")))
        .agg(
          count(lit(1)).as("n_pairs"),
          (floor(sum(col("cos").cast("decimal(28,10)")).cast("double")
            / count(lit(1)) * 10000).cast("double") / 10000.0)
            .as("avg_cos"),
          (floor(max(col("cos")) * 10000).cast("double") / 10000.0)
            .as("max_cos"))
    }),

    // Coarse-to-fine prefix-dimension retrieval (round 6) — the
    // matryoshka-embedding trick: stage 1 ranks the WHOLE corpus by
    // cosine over only the first 16 of 64 dims (4× less bandwidth per
    // candidate; with int8 quantization 16×) and keeps top-32 per
    // query; stage 2 re-scores just those 32 with the full-width
    // kernel. At 100 TB the 16-dim prefix column lives in its own
    // (much smaller) parquet column chunk, so the coarse pass reads a
    // fraction of the bytes LSH/IVF still shuffle — this is the third
    // ANN family beside them, not a variant. Determinism: both stages
    // rank on round(cos, 4) DESC with a vec_id tiebreak; slice() of a
    // float array keeps float elements, so the 16-dim kernel folds the
    // same double-widened bits the oracle's index folds do.
    "sim_matryoshka_truncate" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val coarse = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos16",
          expr("cosine_sim(slice(qe, 1, 16), slice(embedding, 1, 16))"))
      val wc = Window.partitionBy("qid")
        .orderBy(round(col("cos16"), 4).desc, col("vec_id"))
      val wf = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      coarse.withColumn("rc", row_number().over(wc))
        .filter(col("rc") <= 32)
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rank", row_number().over(wf))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("cos"), 4).as("cos"), round(col("cos16"), 4).as("cos16"))
        .orderBy("qid", "rank")
    }),

    // k-NN majority-vote classifier (r7) — the lazy-learner beside
    // the centroid classifier: each sampled test vector takes the
    // majority label of its 5 nearest neighbors (cosine, self
    // excluded), ties broken (count DESC, label ASC). Declared result
    // = per-label accuracy. The brute-force leg is bounded by the
    // broadcast TEST SAMPLE (÷23), not the corpus; at 100 TB the
    // candidate set comes from sim_lsh_ann/sim_ivf_ann buckets and
    // this plan is unchanged from the verify stage onward.
    "sim_knn_classifier" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qe")).filter(col("qid") % 23 === 0)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
      val wk = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      val votes = scored.withColumn("rn", row_number().over(wk))
        .filter(col("rn") <= 5)
        .groupBy(col("qid"), col("qlabel"), col("label").as("vote"))
        .agg(count(lit(1)).as("nv"))
      val wv = Window.partitionBy("qid")
        .orderBy(col("nv").desc, col("vote"))
      votes.withColumn("rv", row_number().over(wv))
        .filter(col("rv") === 1)
        .groupBy(col("qlabel").as("label"))
        .agg(count(lit(1)).as("n_test"),
          count(when(col("vote") === col("qlabel"), 1)).as("n_correct"),
          round(count(when(col("vote") === col("qlabel"), 1))
            / count(lit(1)).cast("double"), 4).as("accuracy"))
        .orderBy("label")
    }),

    // MIPS → cosine reduction (r7, the Shrivastava asymmetric
    // transform): append sqrt(M² − ‖x‖²) to every corpus vector
    // (M = max corpus norm) and 0 to the query — augmented cosine is
    // then MONOTONE in raw inner product, so any cosine-ANN index
    // (LSH / IVF / matryoshka above) answers max-inner-product
    // queries unchanged. The declared result ranks by raw IP and
    // carries BOTH scores; the augmented-cosine column descending in
    // lockstep is the hash-checked witness of the reduction. M is a
    // 1-row broadcast; everything else is one scan.
    "sim_mips_transform" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          sqrt(expr(fsum(s"transform(${dbl("embedding")}, x -> x * x)")))
            .as("nrm"))
      val m = e.agg(max(col("nrm")).as("bigm"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("nrm").as("qnrm")).filter(col("qid") < 5)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .crossJoin(broadcast(m))
        .withColumn("ip",
          expr(fsum(s"zip_with(${dbl("qe")}, ${dbl("embedding")}, (a, b) -> a * b)")))
        .withColumn("aug",
          sqrt(greatest(lit(0.0),
            col("bigm") * col("bigm") - col("nrm") * col("nrm"))))
        // augmented corpus vector = [x, aug]; query = [q, 0] ⇒
        // dot = ip, |corpus_aug| = M ⇒ cos_aug = ip / (|q|·M)
        .withColumn("cos_aug", col("ip") / (col("qnrm") * col("bigm")))
      val w = Window.partitionBy("qid")
        .orderBy(round(col("ip"), 4).desc, col("vec_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("ip"), 4).as("ip"),
          round(col("cos_aug"), 6).as("cos_aug"))
        .orderBy("qid", "rank")
    }),

    // Nearest-class-mean classifier (Rocchio) — fit + apply in one
    // declared plan: per-label per-dim centroids from exact
    // DECIMAL(18,12) sums (order-independent ⇒ identical doubles in
    // both engines), then each sampled vector is assigned to the
    // label with the smallest squared distance, each term quantized
    // to DECIMAL(28,16) before the sum so the argmin comparison has
    // NO float-order ambiguity; (dist, label) tiebreak. Declared
    // result = the confusion matrix. The dims formulation keeps
    // every step SQL-mirrorable; the 100 TB path broadcasts the k×dim
    // centroid table and folds the argmin per row with zero shuffle —
    // udaf_typed (mergeable centroid partials) + sim_ivf_ann
    // (broadcast argmin fold) demonstrate exactly that machinery.
    "sim_centroid_classifier" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"), expr(dbl("embedding")).as("v"))
      // fit: per-label per-dim means from exact decimal sums — a
      // bounded (labels × dims) aggregate collected once (the IVF
      // precedent: k×dim, never data-proportional)
      // ≤ labels×dims groups — 4 partitions bound the fit shuffle
      // regardless of corpus size (the sim_ivf_ann lesson: 32
      // near-empty tasks cost more than the data)
      val centRows =
        SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "4") {
          emb
            .select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
            .groupBy("label", "i")
            .agg((sum(col("x").cast("decimal(18,12)")).cast("double")
              / count(lit(1))).as("c"))
            .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2)))
            .toMap
        }
      val labels = centRows.keys.map(_._1).toSeq.distinct.sorted
      val centArr = array(labels.map(l =>
        array((0 until 64).map(i => lit(centRows((l, i)))): _*)): _*)
      val labArr = array(labels.map(lit(_)): _*)
      // apply: zero-shuffle argmin fold against the centroid LITERAL
      // (r7 rewrite of the ×|labels| dims-join shuffle — same
      // index-order double fold the oracle replays; (d2, label)
      // struct sort is the tie-break)
      emb.filter(col("vec_id") % 3 === 0)
        .withColumn("cents", centArr)
        .withColumn("labs", labArr)
        .withColumn("best", element_at(array_sort(expr(
          s"""transform(sequence(0, ${labels.size - 1}), idx -> named_struct(
                'd2', aggregate(zip_with(v, cents[idx],
                        (x, y) -> (x - y) * (x - y)), 0D, (acc, t) -> acc + t),
                'lab', labs[idx]))""")), 1))
        .groupBy(col("label"), col("best.lab").as("pred_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "pred_label")
    }),

    // Reciprocal-rank fusion of two retrievers (full-dim cosine and
    // the 16-dim matryoshka prefix): score = Σ 1/(60 + rank) over the
    // rankers that returned the candidate — the standard ensemble
    // merge for hybrid retrieval. Each ranker's top-20 is a bounded
    // window over the SAME single broadcast-join scan (one pass
    // computes both kernels); fusion is a full-outer join of two
    // 20-row-per-query lists — ranker-output-sized, independent of
    // corpus size. Determinism: both rank on round(cos,4) with
    // vec_id tiebreak; 1/(60+r) is exact-input double arithmetic and
    // the two-term sum has a fixed order (full-rank term first).
    "sim_reciprocal_rank_fusion" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val scored = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cosf", expr("cosine_sim(qe, embedding)"))
        .withColumn("cos16",
          expr("cosine_sim(slice(qe, 1, 16), slice(embedding, 1, 16))"))
      val wf = Window.partitionBy("qid")
        .orderBy(round(col("cosf"), 4).desc, col("vec_id"))
      val wc = Window.partitionBy("qid")
        .orderBy(round(col("cos16"), 4).desc, col("vec_id"))
      val ranked = scored
        .withColumn("rf", row_number().over(wf))
        .withColumn("rc", row_number().over(wc))
      val a = ranked.filter(col("rf") <= 20)
        .select(col("qid").as("aq"), col("vec_id").as("av"), col("rf"))
      val b = ranked.filter(col("rc") <= 20)
        .select(col("qid").as("bq"), col("vec_id").as("bv"), col("rc"))
      val fused = a.join(b,
          col("aq") === col("bq") && col("av") === col("bv"), "full")
        .select(
          coalesce(col("aq"), col("bq")).as("qid"),
          coalesce(col("av"), col("bv")).as("vec_id"),
          coalesce(col("rf"), lit(0)).as("rank_full"),
          coalesce(col("rc"), lit(0)).as("rank_coarse"),
          (when(col("rf").isNotNull, lit(1.0) / (lit(60) + col("rf")))
            .otherwise(lit(0.0))
            + when(col("rc").isNotNull, lit(1.0) / (lit(60) + col("rc")))
              .otherwise(lit(0.0))).as("rrf"))
      val wr = Window.partitionBy("qid")
        .orderBy(round(col("rrf"), 6).desc, col("vec_id"))
      fused.withColumn("rank", row_number().over(wr))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("rrf"), 6).as("rrf"),
          col("rank_full"), col("rank_coarse"))
        .orderBy("qid", "rank")
    }),

    // ANN quality evaluation (round 6): recall@10 of the MirroredLsh
    // candidate set against brute-force cosine truth, per query
    // vector. THIS is the tuning harness for the LSH knobs (NTables ×
    // NBits trade recall against candidate fraction): at 100 TB you
    // run exactly this plan on a sampled query batch — the only
    // brute-force leg is bounded by the batch (broadcast of 5 query
    // vectors over one corpus scan), while the candidate leg reuses
    // the bucketed equi-join, so the evaluation never goes all-pairs.
    // Determinism: truth membership ranks on round(cos,4) with vec_id
    // tiebreak (the sim_cosine_topk convention) and the candidate set
    // is exact-mirrored in the oracle, so the hit counts are integers
    // both engines agree on; counts are COUNT (BIGINT in DuckDB, long
    // in Spark — never HUGEINT), recall is one double division of
    // identical small ints.
    "sim_ann_recall_eval" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val q = e.select(col("vec_id").as("qid"), col("embedding").as("qe"))
        .filter(col("qid") < 5)
      val w = Window.partitionBy("qid")
        .orderBy(round(col("cos"), 4).desc, col("vec_id"))
      val truth = e.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("cos", expr("cosine_sim(qe, embedding)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("qid"), col("vec_id"))
      // column pruning drops the unused cosine from the candidate leg
      val cand = MirroredLsh.candidates(e).select(col("a"), col("b"))
      val nbrs = cand.select(col("a").as("qid"), col("b").as("vec_id"))
        .union(cand.select(col("b").as("qid"), col("a").as("vec_id")))
        .filter(col("qid") < 5)
        .withColumn("hit", lit(1))
      truth.join(nbrs, Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_hit"))
        .select(col("qid"), col("n_true"), col("n_hit"),
          (col("n_hit") * lit(1.0) / col("n_true")).as("recall10"))
        .orderBy("qid")
    }),

    // Int8 scalar quantization of the embedding column — the memory/
    // bandwidth lever for ANN at 100 TB: 4× smaller vectors mean 4×
    // more candidates per scan and a broadcastable quantized corpus
    // slice. Per-vector scale = max|x|, code = floor(x·127/scale);
    // pure per-row HOF compute (no shuffle), and the whole pipeline —
    // quantize, reconstruct, L1 error — is SQL-expressible with
    // left-fold double math, so DuckDB recomputes it bit-identically.
    "sim_quantize_int8" -> ((s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") % 97 === 0)
        .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
        .withColumn("scale", expr("aggregate(v, 0D, (a, x) -> greatest(a, abs(x)))"))
        // zero vectors have no codes: x/scale would be NaN in Spark
        // but a CAST error in DuckDB — excluded identically in both
        .filter(col("scale") > 0)
        .withColumn("q",
          expr("transform(v, x -> CAST(floor(x * 127.0 / scale) AS INT))"))
        .withColumn("err", expr(
          "aggregate(zip_with(v, q, (x, qv) -> abs(x - qv * scale / 127.0)), " +
            "0D, (a, b) -> a + b)"))
        .select(col("vec_id"),
          round(col("scale"), 4).as("scale4"),
          round(col("err"), 4).as("l1_err"),
          expr("q[0]").as("q0"), expr("q[1]").as("q1"))
        .orderBy("vec_id")),

    // 1-bit sign quantization + Hamming-scan top-k (r12) — the
    // int8 key taken to the memory floor: 64 float dims → 64 sign
    // bits packed into TWO 32-bit words held as BIGINTs (a full
    // 64-bit pack would put bit 63 in the sign position, where
    // shift/compare semantics stop being portable across engines) —
    // 16 B of code per 256 B vector. The scan stage touches ONLY the
    // code words: bit_count(xor) is pure codegen'd integer work, and
    // the rank keys (hamming ASC, vec_id) are integers, so the
    // ranking mirrors exactly with no float rounding anywhere. The
    // exact-cosine re-score joins raw vectors back for the ≤15
    // SELECTED rows alone — the standard two-stage shape at 100 TB
    // (coarse scan over compact codes, exact re-rank on survivors);
    // the probe side is the bounded 5-row batch (hint allowed per
    // the Tables.scala policy), the code⋈vector back-join is
    // hint-free equi on vec_id (AQE broadcasts the 15-row side).
    "sim_binary_hamming_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      def word(off: Int) = expr(
        s"""aggregate(sequence(0, 31), CAST(0 AS BIGINT), (acc, p) ->
              acc + IF(CAST(element_at(embedding, p + ${off + 1}) AS DOUBLE) > 0D,
                       shiftleft(CAST(1 AS BIGINT), p), CAST(0 AS BIGINT)))""")
      val codes = e.select(col("vec_id"), word(0).as("wlo"), word(32).as("whi"))
      val q = codes.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("wlo").as("plo"), col("whi").as("phi"))
      val w = Window.partitionBy("qid").orderBy(col("hamming"), col("vec_id"))
      val top = codes.join(broadcast(q), col("vec_id") =!= col("qid"))
        .withColumn("hamming",
          expr("CAST(bit_count(wlo ^ plo) + bit_count(whi ^ phi) AS BIGINT)"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("qid"), col("rank"), col("vec_id"), col("hamming"))
      val qe = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      top.join(e, Seq("vec_id")).join(broadcast(qe), Seq("qid"))
        .select(col("qid"), col("rank"), col("vec_id"), col("hamming"),
          round(expr("cosine_sim(qe, embedding)"), 4).as("cos"))
        .orderBy("qid", "rank")
    }),
  )

  val oracles: Map[String, String] = Map(
    "sim_ivf_ann" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id)
                              AS INTEGER) - 1 AS cid, v AS cv
                     FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
              a1 AS (SELECT vec_id, v, cid FROM (
                       SELECT e.vec_id, e.v, c.cid,
                              row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_aggregate(list_transform(
                                  range(1, 65), i -> (e.v[i] - c.cv[i])
                                    * (e.v[i] - c.cv[i])), 'sum'), c.cid)
                                AS rn
                       FROM e, c0 c) WHERE rn = 1),
              m1 AS (SELECT cid, dim,
                            CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                              / count(*) AS m
                     FROM (SELECT cid, dd.dim, v[dd.dim + 1] AS x
                           FROM a1, (SELECT unnest(range(0, 64)) AS dim) dd)
                     GROUP BY cid, dim),
              c1 AS (SELECT c0.cid,
                            list(coalesce(m1.m, c0.cv[dd.dim + 1])
                                 ORDER BY dd.dim) AS cv
                     FROM c0
                     CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) dd
                     LEFT JOIN m1 ON m1.cid = c0.cid AND m1.dim = dd.dim
                     GROUP BY c0.cid),
              a2 AS (SELECT vec_id, v, cid FROM (
                       SELECT e.vec_id, e.v, c.cid,
                              row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_aggregate(list_transform(
                                  range(1, 65), i -> (e.v[i] - c.cv[i])
                                    * (e.v[i] - c.cv[i])), 'sum'), c.cid)
                                AS rn
                       FROM e, c1 c) WHERE rn = 1),
              m2 AS (SELECT cid, dim,
                            CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE)
                              / count(*) AS m
                     FROM (SELECT cid, dd.dim, v[dd.dim + 1] AS x
                           FROM a2, (SELECT unnest(range(0, 64)) AS dim) dd)
                     GROUP BY cid, dim),
              c2 AS (SELECT c1.cid,
                            list(coalesce(m2.m, c1.cv[dd.dim + 1])
                                 ORDER BY dd.dim) AS cv
                     FROM c1
                     CROSS JOIN (SELECT unnest(range(0, 64)) AS dim) dd
                     LEFT JOIN m2 ON m2.cid = c1.cid AND m2.dim = dd.dim
                     GROUP BY c1.cid),
              af AS (SELECT vec_id, cid FROM (
                       SELECT e.vec_id, c.cid,
                              row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY list_aggregate(list_transform(
                                  range(1, 65), i -> (e.v[i] - c.cv[i])
                                    * (e.v[i] - c.cv[i])), 'sum'), c.cid)
                                AS rn
                       FROM e, c2 c) WHERE rn = 1),
              q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
              pc AS (SELECT qid, cid FROM (
                       SELECT q.qid, c.cid,
                              row_number() OVER (PARTITION BY q.qid
                                ORDER BY (list_aggregate(list_transform(
                                    range(1, 65), i -> q.qv[i] * c.cv[i]),
                                    'sum')
                                  / (sqrt(list_aggregate(list_transform(
                                      range(1, 65), i -> q.qv[i] * q.qv[i]),
                                      'sum'))
                                     * sqrt(list_aggregate(list_transform(
                                         range(1, 65), i -> c.cv[i] * c.cv[i]),
                                         'sum')))) DESC, c.cid) AS rn
                       FROM q, c2 c) WHERE rn <= 2),
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              cands AS (SELECT pc.qid, af.vec_id,
                               list_aggregate(list_transform(range(1, 65),
                                 i -> qn.v[i] * xn.v[i]), 'sum')
                                 / (qn.nrm * xn.nrm) AS cos
                        FROM pc JOIN af ON af.cid = pc.cid
                        JOIN n qn ON qn.vec_id = pc.qid
                        JOIN n xn ON xn.vec_id = af.vec_id
                        WHERE af.vec_id <> pc.qid),
              rk AS (SELECT qid, vec_id, cos,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, vec_id) AS rn
                     FROM cands)
         SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id,
                round(cos, 4) AS cos
         FROM rk WHERE rn <= 3 ORDER BY qid, rank""",
    "sim_lsh_ann" ->
      s"""WITH ${MirroredLsh.candidateSqlCtes("TRUE")},
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              sc AS (SELECT list_aggregate(list_transform(
                              range(1, len(x.v) + 1),
                              i -> x.v[i] * y.v[i]), 'sum')
                            / (x.nrm * y.nrm) AS cos
                     FROM cand JOIN n x ON x.vec_id = cand.a
                               JOIN n y ON y.vec_id = cand.b)
         SELECT count(*) AS n_pairs,
                floor(CAST(sum(CAST(cos AS DECIMAL(28,10))) AS DOUBLE)
                      / count(*) * 10000) / 10000 AS avg_cos,
                floor(max(cos) * 10000) / 10000 AS max_cos
         FROM sc""",
    "sim_matryoshka_truncate" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
              co AS (SELECT q.qid, e.vec_id, q.qv, e.v,
                            list_aggregate(list_transform(range(1, 17),
                              i -> q.qv[i] * e.v[i]), 'sum')
                              / (sqrt(list_aggregate(list_transform(
                                   range(1, 17), i -> q.qv[i] * q.qv[i]),
                                   'sum'))
                                 * sqrt(list_aggregate(list_transform(
                                     range(1, 17), i -> e.v[i] * e.v[i]),
                                     'sum'))) AS cos16
                     FROM q JOIN e ON e.vec_id <> q.qid),
              cand AS (SELECT qid, vec_id, qv, v, cos16 FROM (
                         SELECT *, row_number() OVER (PARTITION BY qid
                           ORDER BY round(cos16, 4) DESC, vec_id) AS rc
                         FROM co) WHERE rc <= 32),
              fine AS (SELECT qid, vec_id, cos16,
                              list_aggregate(list_transform(range(1, 65),
                                i -> qv[i] * v[i]), 'sum')
                                / (sqrt(list_aggregate(list_transform(
                                     range(1, 65), i -> qv[i] * qv[i]),
                                     'sum'))
                                   * sqrt(list_aggregate(list_transform(
                                       range(1, 65), i -> v[i] * v[i]),
                                       'sum'))) AS cos
                       FROM cand),
              rk AS (SELECT qid, vec_id, cos, cos16,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, vec_id) AS rn
                     FROM fine)
         SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id,
                round(cos, 4) AS cos, round(cos16, 4) AS cos16
         FROM rk WHERE rn <= 3 ORDER BY qid, rank""",
    "sim_knn_classifier" ->
      """WITH e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, label, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv,
                           nrm AS qnrm
                    FROM n WHERE vec_id % 23 = 0),
              s AS (SELECT qid, qlabel, vec_id, label,
                           list_aggregate(list_transform(range(1, len(qv) + 1),
                                          i -> qv[i] * v[i]), 'sum')
                             / (qnrm * nrm) AS cos
                    FROM q JOIN n ON vec_id <> qid),
              nb AS (SELECT qid, qlabel, label FROM (
                       SELECT *, row_number() OVER (PARTITION BY qid
                         ORDER BY round(cos, 4) DESC, vec_id) AS rn
                       FROM s) WHERE rn <= 5),
              votes AS (SELECT qid, qlabel, label AS vote,
                               count(*) AS nv
                        FROM nb GROUP BY 1, 2, 3),
              win AS (SELECT qid, qlabel, vote FROM (
                        SELECT *, row_number() OVER (PARTITION BY qid
                          ORDER BY nv DESC, vote) AS rv
                        FROM votes) WHERE rv = 1)
         SELECT qlabel AS label, count(*) AS n_test,
                count(*) FILTER (WHERE vote = qlabel) AS n_correct,
                round(CAST(count(*) FILTER (WHERE vote = qlabel)
                  AS DOUBLE) / count(*), 4) AS accuracy
         FROM win GROUP BY qlabel ORDER BY label""",
    "sim_mips_transform" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              m AS (SELECT max(nrm) AS bigm FROM n),
              q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
                    FROM n WHERE vec_id < 5),
              s AS (SELECT qid, vec_id,
                           list_aggregate(list_transform(range(1, len(qv) + 1),
                                          i -> qv[i] * v[i]), 'sum') AS ip,
                           qnrm, bigm
                    FROM q JOIN n ON vec_id <> qid, m),
              rk AS (SELECT qid, vec_id, ip,
                            ip / (qnrm * bigm) AS cos_aug,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(ip, 4) DESC, vec_id) AS rn
                     FROM s)
         SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id,
                round(ip, 4) AS ip, round(cos_aug, 6) AS cos_aug
         FROM rk WHERE rn <= 5 ORDER BY qid, rank""",
    "sim_centroid_classifier" ->
      """WITH dims AS (SELECT vec_id, label,
                              unnest(generate_series(1, 64)) AS i,
                              unnest(list_transform(embedding,
                                     x -> CAST(x AS DOUBLE))) AS x
                       FROM embeddings),
              cent AS (SELECT label AS cl,
                              list(CAST(sc AS DOUBLE) / cn ORDER BY i) AS cv
                       FROM (SELECT label, i,
                                    sum(CAST(x AS DECIMAL(18,12))) AS sc,
                                    count(*) AS cn
                             FROM dims GROUP BY label, i)
                       GROUP BY label),
              e AS (SELECT vec_id, label,
                           list_transform(embedding, x -> CAST(x AS DOUBLE))
                             AS v
                    FROM embeddings WHERE vec_id % 3 = 0),
              dist AS (SELECT vec_id, label, cl,
                              list_aggregate(list_transform(range(1, 65),
                                i -> (v[i] - cv[i]) * (v[i] - cv[i])),
                                'sum') AS d2
                       FROM e, cent),
              rk AS (SELECT vec_id, label, cl,
                            row_number() OVER (PARTITION BY vec_id
                              ORDER BY d2, cl) AS rn
                     FROM dist)
         SELECT label, cl AS pred_label, count(*) AS n
         FROM rk WHERE rn = 1
         GROUP BY label, cl ORDER BY label, pred_label""",
    "sim_reciprocal_rank_fusion" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
              s AS (SELECT q.qid, e.vec_id,
                           list_aggregate(list_transform(range(1, 65),
                             i -> q.qv[i] * e.v[i]), 'sum')
                             / (sqrt(list_aggregate(list_transform(
                                  range(1, 65), i -> q.qv[i] * q.qv[i]),
                                  'sum'))
                                * sqrt(list_aggregate(list_transform(
                                    range(1, 65), i -> e.v[i] * e.v[i]),
                                    'sum'))) AS cosf,
                           list_aggregate(list_transform(range(1, 17),
                             i -> q.qv[i] * e.v[i]), 'sum')
                             / (sqrt(list_aggregate(list_transform(
                                  range(1, 17), i -> q.qv[i] * q.qv[i]),
                                  'sum'))
                                * sqrt(list_aggregate(list_transform(
                                    range(1, 17), i -> e.v[i] * e.v[i]),
                                    'sum'))) AS cos16
                    FROM q JOIN e ON e.vec_id <> q.qid),
              rk AS (SELECT qid, vec_id,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cosf, 4) DESC, vec_id) AS rf,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos16, 4) DESC, vec_id) AS rc
                     FROM s),
              a AS (SELECT qid AS aq, vec_id AS av, rf FROM rk
                    WHERE rf <= 20),
              b AS (SELECT qid AS bq, vec_id AS bv, rc FROM rk
                    WHERE rc <= 20),
              f AS (SELECT coalesce(aq, bq) AS qid,
                           coalesce(av, bv) AS vec_id,
                           coalesce(rf, 0) AS rank_full,
                           coalesce(rc, 0) AS rank_coarse,
                           (CASE WHEN rf IS NOT NULL
                                 THEN CAST(1 AS DOUBLE) / (60 + rf)
                                 ELSE CAST(0 AS DOUBLE) END
                            + CASE WHEN rc IS NOT NULL
                                   THEN CAST(1 AS DOUBLE) / (60 + rc)
                                   ELSE CAST(0 AS DOUBLE) END) AS rrf
                    FROM a FULL OUTER JOIN b
                      ON aq = bq AND av = bv),
              fr AS (SELECT *, row_number() OVER (PARTITION BY qid
                       ORDER BY round(rrf, 6) DESC, vec_id) AS rnk
                     FROM f)
         SELECT qid, CAST(rnk AS INTEGER) AS rank, vec_id,
                round(rrf, 6) AS rrf,
                CAST(rank_full AS INTEGER) AS rank_full,
                CAST(rank_coarse AS INTEGER) AS rank_coarse
         FROM fr WHERE rnk <= 10 ORDER BY qid, rank""",
    "sim_ann_recall_eval" ->
      s"""WITH ${MirroredLsh.candidateSqlCtes("TRUE")},
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
                    FROM n WHERE vec_id < 5),
              s AS (SELECT qid, vec_id,
                           list_aggregate(list_transform(range(1, len(qv) + 1),
                                          i -> qv[i] * v[i]), 'sum')
                             / (qnrm * nrm) AS cos
                    FROM q JOIN n ON vec_id <> qid),
              rk AS (SELECT qid, vec_id,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, vec_id) AS rn
                     FROM s),
              truth AS (SELECT qid, vec_id FROM rk WHERE rn <= 10),
              nb AS (SELECT a AS qid, b AS vec_id FROM cand WHERE a < 5
                     UNION ALL
                     SELECT b AS qid, a AS vec_id FROM cand WHERE b < 5)
         SELECT t.qid, count(*) AS n_true, count(nb.vec_id) AS n_hit,
                count(nb.vec_id) * 1.0 / count(*) AS recall10
         FROM truth t LEFT JOIN nb
           ON nb.qid = t.qid AND nb.vec_id = t.vec_id
         GROUP BY t.qid ORDER BY t.qid""",
    "sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
                    FROM n WHERE vec_id < 5),
              s AS (SELECT qid, vec_id,
                           list_aggregate(list_transform(range(1, len(qv) + 1),
                                          i -> qv[i] * v[i]), 'sum')
                             / (qnrm * nrm) AS cos
                    FROM q JOIN n ON vec_id <> qid),
              rk AS (SELECT qid, vec_id, cos,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY round(cos, 4) DESC, vec_id) AS rn
                     FROM s)
         SELECT qid, CAST(rn AS INTEGER) AS rank, vec_id, round(cos, 4) AS cos
         FROM rk WHERE rn <= 3 ORDER BY qid, rank""",
    "multimodal_join" ->
      """SELECT doc_id, lang, n_chars, label,
                round(sqrt(list_aggregate(
                  list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                  'sum')), 4) AS vnorm,
                CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
         FROM documents JOIN embeddings ON doc_id = vec_id
         WHERE doc_id % 7 = 0 ORDER BY doc_id""",
    "udaf_typed" ->
      """WITH dims AS (SELECT label,
                              unnest(generate_series(1, 64)) AS i,
                              unnest(list_transform(embedding,
                                     x -> CAST(x AS DOUBLE))) AS x
                       FROM embeddings),
              cent AS (SELECT label, i, avg(x) AS c
                       FROM dims GROUP BY label, i),
              agg AS (SELECT label,
                             round(sqrt(sum(c * c)), 4) AS cnorm,
                             round(max(CASE WHEN i = 1 THEN c END), 4) AS c0,
                             round(max(CASE WHEN i = 2 THEN c END), 4) AS c1
                      FROM cent GROUP BY label),
              n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label)
         SELECT agg.label, n.n, agg.c0, agg.c1, agg.cnorm
         FROM agg JOIN n ON agg.label = n.label ORDER BY agg.label""",
    "sim_quantize_int8" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings WHERE vec_id % 97 = 0),
              s AS (SELECT vec_id, v,
                           list_aggregate(list_transform(v, x -> abs(x)),
                                          'max') AS scale
                    FROM e),
              q AS (SELECT vec_id, v, scale,
                           list_transform(v,
                             x -> CAST(floor(x * 127.0 / scale) AS INT)) AS q
                    FROM s WHERE scale > 0),
              r AS (SELECT vec_id, scale, q,
                           list_aggregate(
                             list_transform(range(1, len(v) + 1),
                               i -> abs(v[i] - q[i] * scale / 127.0)),
                             'sum') AS err
                    FROM q)
         SELECT vec_id, round(scale, 4) AS scale4, round(err, 4) AS l1_err,
                q[1] AS q0, q[2] AS q1
         FROM r ORDER BY vec_id""",
    "sim_binary_hamming_topk" ->
      """WITH e AS (SELECT vec_id,
                           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                    FROM embeddings),
              c AS (SELECT vec_id, v,
                           CAST(list_aggregate(list_transform(range(0, 32),
                             p -> CASE WHEN v[CAST(p + 1 AS INT)] > 0
                                  THEN (CAST(1 AS BIGINT) << CAST(p AS INT))
                                  ELSE CAST(0 AS BIGINT) END), 'sum')
                             AS BIGINT) AS wlo,
                           CAST(list_aggregate(list_transform(range(32, 64),
                             p -> CASE WHEN v[CAST(p + 1 AS INT)] > 0
                                  THEN (CAST(1 AS BIGINT) << CAST(p - 32 AS INT))
                                  ELSE CAST(0 AS BIGINT) END), 'sum')
                             AS BIGINT) AS whi,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e),
              q AS (SELECT vec_id AS qid, wlo AS plo, whi AS phi,
                           v AS qv, nrm AS qnrm
                    FROM c WHERE vec_id < 5),
              h AS (SELECT q.qid, c.vec_id,
                           CAST(bit_count(xor(c.wlo, q.plo))
                                + bit_count(xor(c.whi, q.phi)) AS BIGINT)
                             AS hamming,
                           q.qv, q.qnrm, c.v, c.nrm
                    FROM c JOIN q ON c.vec_id <> q.qid),
              r AS (SELECT qid, vec_id, hamming, qv, qnrm, v, nrm,
                           row_number() OVER (PARTITION BY qid
                             ORDER BY hamming, vec_id) AS rank
                    FROM h)
         SELECT qid, CAST(rank AS INTEGER) AS rank, vec_id, hamming,
                round(list_aggregate(list_transform(range(1, 65),
                        i -> qv[i] * v[i]), 'sum') / (qnrm * nrm), 4) AS cos
         FROM r WHERE rank <= 3 ORDER BY qid, rank""",
    "udf_scalar" ->
      """SELECT doc_id,
                substring(regexp_replace(lower(trim(text)), ' +', ' ', 'g'),
                          1, 40) AS norm40,
                CAST(length(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
                     AS INTEGER) AS nlen
         FROM documents WHERE doc_id % 131 = 0 ORDER BY doc_id""",
  )
}
