package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sign-LSH over embeddings whose hyperplanes are ORACLE-MIRRORABLE.
  *
  * The hyperplanes are Rademacher (±1) vectors derived from md5 bits:
  * sign(t, j, i) = bit i of md5("t:j") (first 16 hex chars = 64 bits,
  * one per dimension). md5 is available in both the JVM and DuckDB, so
  * the EXACT candidate set — not an approximation of it — is
  * reproducible in the correctness oracle via `candidateSqlCtes`. That
  * removes the recall problem that makes random-gaussian LSH
  * un-oracle-able: both engines agree on which pairs are candidates,
  * so declared results built on these candidates hash-match
  * deterministically, while the Spark plan keeps the scale-correct
  * shape (signature projection → shuffle on (table, signature) →
  * bucket equi-join → exact cosine only on collisions; never an
  * all-pairs join).
  *
  * Sign-consistency across engines: the dot product is accumulated in
  * index order in both (a sequential JVM loop here; a left-fold
  * `list_aggregate(..., 'sum')` in DuckDB) over identical doubles
  * (float→double widening is exact, ±1 products are exact), so both
  * engines compute bit-identical sums and agree on every `> 0` sign.
  *
  * Rademacher-vs-gaussian: for sign-LSH only the DIRECTION of the
  * hyperplane matters; ±1 vectors are a standard substitute (cf.
  * Achlioptas-style sparse/signed random projections) with the same
  * collision-probability behavior at dim 64.
  *
  * Scale notes (100 TB): per-vector signature cost is L·b·dim fused
  * multiply-adds, embarrassingly parallel, no shuffle; the candidate
  * join shuffles (table, signature, vec_id) triples only. `NBits`
  * grows with log2(corpus / target bucket size) so per-bucket work is
  * constant. Geometry: the fixture embeddings are near-random —
  * true-NN cosine only 0.36–0.48 (per-bit collision p ≈ 0.63), the
  * adversarial case for sign-LSH; 20 tables × 6 bits targets recall
  * 1−(1−p⁶)²⁰ ≈ 0.74 at a ~27 % candidate fraction. Clustered real
  * corpora (p ≥ 0.9 inside a near-dup cluster) reach the same recall
  * with 3–4 tables and a far smaller candidate set.
  */
object MirroredLsh {
  /** Geometry. Both the Spark side and candidateSqlCtes read these
    * constants, so engine and oracle stay in lockstep.
    *
    * r7 sweep, measured by sim_ann_recall_eval at sf0.1 (mean
    * recall@10 over the 5-query batch; candidate fraction counted via
    * the oracle CTE over C(2000,2) pairs — PLANS.md "LSH geometry
    * sweep"): 20×6 → 0.64 @ 0.285; 24×6 → 0.76 @ ~0.32; 28×6 → 0.86
    * @ 0.370; 32×6 → 0.88 @ 0.407 (diminishing); 20×5 → 0.82 @ ~0.47
    * (cheapest signatures, worst fraction). Adopted 28×6: clears the
    * §7.4 ≥ 0.70 gate with 2× margin-of-noise headroom while adding
    * only +0.085 fraction. On clustered real corpora (intra-cluster
    * p ≥ 0.9) the same geometry over-delivers and L can drop to 3–4
    * tables. */
  val NTables = 28
  val NBits = 6
  val Dim = 64

  /** signs(t * NBits + j)(i) ∈ {−1.0, +1.0} — from bit i of
    * md5(s"$t:$j"), exactly as candidateSqlCtes derives it in SQL. */
  private lazy val signs: Array[Array[Double]] =
    Array.tabulate(NTables * NBits) { k =>
      val t = k / NBits
      val j = k % NBits
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$t:$j".getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
      Array.tabulate(Dim) { i =>
        val nibble = Character.digit(hex(i / 4), 16)
        if (((nibble >> (3 - i % 4)) & 1) == 1) 1.0 else -1.0
      }
    }

  /** Hyperplane signs flattened to one primitive array (plane-major:
    * `flatSigns(k * Dim + i)`), the layout [[signatureKernel]] walks. */
  private lazy val flatSigns: Array[Double] = {
    val out = new Array[Double](NTables * NBits * Dim)
    var k = 0
    while (k < NTables * NBits) {
      System.arraycopy(signs(k), 0, out, k * Dim, Dim)
      k += 1
    }
    out
  }

  /** Per-vector signature kernel: one NBits-bit sign pattern per
    * table, reading the row's ArrayData directly (no boxing, no
    * encoder). Called from the codegen'd
    * [[graft.functions.LshSignatures]] expression — one static invoke
    * inside the enclosing WholeStageCodegen stage. Returns null (→ SQL
    * NULL) for short or null-element embeddings instead of throwing.
    * Arithmetic is the same index-order `±1 · v(i)` double
    * accumulation as the r5 UDF and the oracle's left-fold, so the
    * signatures — and therefore the candidate set — are bit-identical.
    * Declared return type is ArrayData (not Any): the codegen'd call
    * site assigns the result straight into an ArrayData-typed variable,
    * and janino has no Object→ArrayData assignment conversion — an Any
    * return here would make every stage containing lsh_sigs silently
    * fall back to interpreted execution. */
  def signatureKernel(emb: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    if (emb.numElements() < Dim) return null
    val sg = flatSigns
    val v = new Array[Double](Dim)
    var i = 0
    while (i < Dim) {
      if (emb.isNullAt(i)) return null
      v(i) = emb.getFloat(i).toDouble
      i += 1
    }
    val out = new Array[Int](NTables)
    var t = 0
    while (t < NTables) {
      var sig = 0
      var j = 0
      while (j < NBits) {
        val base = (t * NBits + j) * Dim
        var dot = 0.0
        i = 0
        while (i < Dim) { dot += sg(base + i) * v(i); i += 1 }
        if (dot > 0) sig |= 1 << j
        j += 1
      }
      out(t) = sig
      t += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Candidate pairs (a < b) with exact cosine, deduped across tables.
    * `sample` must have (vec_id, embedding); the caller must have
    * registered GraftFunctions (for the codegen'd cosine_sim).
    *
    * Shape (r6): dedup-then-score. The bucket self-join shuffles bare
    * (t, sig, vec_id) triples — no embedding payloads — then the
    * distinct (a, b) pairs join the embeddings back and pay ONE cosine
    * each. The r5 shape scored every colliding (table, pair) copy
    * (~27 % candidate fraction × up to 20 tables of identical cosine
    * evaluations) and shuffled 20 embedding copies per vector; this
    * matches the oracle's `SELECT DISTINCT`-before-refine CTE shape. */
  def candidates(sample: DataFrame): DataFrame = {
    val sigs = sample.select(col("vec_id"),
      posexplode(expr("lsh_sigs(embedding)")).as(Seq("t", "sig")))
    val pairs = sigs.as("x").join(sigs.as("y"),
        col("x.t") === col("y.t") && col("x.sig") === col("y.sig") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"))
      .distinct()
    val emb = sample.select(col("vec_id"), col("embedding"))
    pairs
      .join(emb.as("ea"), col("a") === col("ea.vec_id"))
      .join(emb.as("eb"), col("b") === col("eb.vec_id"))
      .select(col("a"), col("b"),
        expr("cosine_sim(ea.embedding, eb.embedding)").as("cos"))
  }

  /** DuckDB CTE chain reproducing the EXACT candidate set:
    * `e(vec_id, v)` (double-widened sample), `cand(a, b)` (distinct
    * bucket-join pairs). Compose per-key SQL on top (cosine refine,
    * thresholds, ranking). `samplePred` filters `embeddings`. */
  def candidateSqlCtes(samplePred: String): String =
    s"""e AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         FROM embeddings WHERE $samplePred),
       tj AS (SELECT t.t, j.j,
                     md5(CAST(t.t AS VARCHAR) || ':'
                         || CAST(j.j AS VARCHAR)) AS h
              FROM (SELECT unnest(range(0, $NTables)) AS t) t,
                   (SELECT unnest(range(0, $NBits)) AS j) j),
       bitv AS (SELECT e.vec_id, tj.t, tj.j,
                       CASE WHEN list_aggregate(list_transform(
                              range(1, ${Dim + 1}),
                              i -> CASE WHEN ((strpos('0123456789abcdef',
                                       substr(h, ((i-1)//4) + 1, 1)) - 1)
                                       >> (3 - ((i-1)%4))) & 1 = 1
                                   THEN v[i] ELSE -v[i] END), 'sum') > 0
                            THEN 1 ELSE 0 END AS bv
                FROM e, tj),
       sg AS (SELECT vec_id, t, sum(bv * (1 << j)) AS sig
              FROM bitv GROUP BY vec_id, t),
       cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
                FROM sg x JOIN sg y
                  ON x.t = y.t AND x.sig = y.sig
                 AND x.vec_id < y.vec_id)"""
}
