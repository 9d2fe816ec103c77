package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Near-duplicate cluster closure (SURVEY.md §2.11, round 4).
  *
  * LSH / pairwise scoring emits near-dup PAIRS, but a dedup pipeline
  * keeps one representative per transitive CLUSTER: if A~B and B~C,
  * all three are one group even when A~C scores below threshold.
  * That closure is connected components over the pair graph — the
  * step every production dedup job runs after candidate generation.
  *
  * Algorithm: min-label propagation with pointer jumping. Each round
  * (1) every node takes the min label over itself and its neighbors
  * (one shuffle: edges ⋈ labels + groupBy), then (2) compresses paths
  * by re-reading its label's label (one more shuffle). The jump step
  * doubles propagation distance per round, so rounds are
  * O(log diameter), not O(diameter) — at 100 TB this is the
  * difference between ~6 rounds and hundreds for chain-shaped
  * clusters. Per-round state is one (node, label) row per node —
  * linear, partitioned by node, no driver-side graph. The driver
  * only counts changed labels per round to detect the fixpoint
  * (a scalar per round, same pattern as any iterative MLlib job).
  *
  * The pair stage (r5) is the oracle-mirrored sign-LSH bucket join
  * (`MirroredLsh.candidates`) with the native cosine kernel refining
  * collisions only — the same candidate-generator family the closure
  * consumes at 100 TB; the closure itself is agnostic to the
  * generator.
  *
  * Oracle: DuckDB computes the same components via a recursive CTE
  * (label = min reachable node id), so rows+hash check end-to-end.
  */
object Clustering {
  type Q = (SparkSession, String) => DataFrame

  private val CosThreshold = 0.3

  /** Connected components over an undirected pair graph.
    *
    * @param verts one LongType column `n` (every node, incl. isolated)
    * @param pairs two LongType columns `a`, `b` (undirected edges)
    * @return (n, lab) — lab = min node id reachable from n
    *
    * Min-label propagation with pointer jumping, looped in the RDD API
    * with one explicit HashPartitioner shared by the edge set and every
    * round's label state. A per-round DataFrame loop pays Catalyst
    * analysis plus a fresh LogicalRDD conversion each round (~0.5 s ×
    * 8 rounds of a 4.5–6 s key at sf0.1); here rounds are
    * partitioner-co-located joins with ZERO per-round planning —
    * edges⋈labels and the pointer jump are narrow, only the
    * neighbor-min reduceByKey and the two key-rotations shuffle, and
    * each round is ONE job whose fixpoint detection rides the
    * materialization accumulator (exit on exactly zero changes — task
    * retries can only overcount, so detection stays sound on a real
    * cluster). At 10⁹ nodes the same code holds: the partitioner sizes
    * to state volume and every structure is (Long, Long) pairs
    * partitioned by node — the GraphX execution shape without the
    * dependency. This is the documented "rarely: genuine iterative
    * fixpoint" RDD exception to the DataFrame-first rule (SURVEY §1.3)
    * — the declared API surface stays DataFrame on both ends. Shared by
    * dedup_cluster_cc and the composed pipeline_dedup_e2e.
    *
    * Measured alternatives that lost at fixture scale: a double
    * pointer jump (same 12 rounds), two propagate+jump steps per
    * materialization (~40% slower: step 1 re-executes inside step 2),
    * and large-star/small-star contraction (Kiveris et al. SOCC'14: 6
    * rounds instead of 12, but 2 materializations per round; it only
    * pays when edges ≫ nodes). */
  private[graft] def components(verts: DataFrame, pairs: DataFrame): DataFrame = {
    val s = verts.sparkSession
    import org.apache.spark.HashPartitioner
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val nNodes = verts.count()
    // partition count sizes to STATE VOLUME (~500k rows/partition),
    // not core count — 2 at sample scale, thousands at 10⁹ nodes
    val part = new HashPartitioner(
      math.min(2048L, math.max(2L, nNodes / 500000L + 1L)).toInt)
    val edges: RDD[(Long, Long)] = pairs
      .select(col("a"), col("b")).rdd
      .flatMap { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (a == b) Iterator.empty else Iterator((a, b), (b, a))
      }
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    edges.count()
    var labels: RDD[(Long, Long)] = verts.rdd.map(r => (r.getLong(0), r.getLong(0)))
      .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    var unpersistPrev: () => Unit = { val l = labels; () => { l.unpersist(); () } }
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < 16) {
      // (1) neighbor min: edges⋈labels is NARROW (both by src=node);
      // the min-combine shuffles once, landing back on `part`
      val nbrMin = edges.join(labels)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // (2) take min(own, neighbor) — narrow (both by node)
      val m1 = labels.leftOuterJoin(nbrMin, part).mapValues {
        case (old, nl) => (old, math.min(old, nl.getOrElse(old)))
      }
      // (3) pointer jump lab := lab(lab): rotate onto the label key
      // (shuffle), join the round's own labels (narrow — j is m1's
      // partitioning), rotate back to the node key (shuffle)
      val j = m1.mapValues(_._2)
      val byLab = m1.map { case (n, (old, lab)) => (lab, (n, old)) }
        .partitionBy(part)
      val acc = s.sparkContext.longAccumulator
      val next = byLab.join(j)
        .map { case (_, ((n, old), lab2)) =>
          if (old != lab2) acc.add(1L)
          (n, lab2)
        }
        .partitionBy(part).persist(StorageLevel.MEMORY_AND_DISK)
      next.count()
      changed = acc.value
      unpersistPrev()
      unpersistPrev = () => { next.unpersist(); () }
      labels = next
      iter += 1
    }
    edges.unpersist()
    // final persisted round stays cached; the returned frame reads it
    s.createDataFrame(
      labels.map { case (n, lab) => org.apache.spark.sql.Row(n, lab) },
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lab",
          org.apache.spark.sql.types.LongType))))
  }

  val queries: Map[String, Q] = Map(
    // Edges come from the md5-Rademacher sign-LSH bucket join (exact
    // cosine refined on collisions only — never an all-pairs join);
    // the oracle reproduces the EXACT candidate set, so the ANN
    // graph's recall (~0.6 for the fixture's adversarial cos≈0.3
    // edges; ≈1 for real near-dup clusters at cos≥0.9) is a property
    // of the declared semantics, not a correctness hazard. This is the
    // SemDeDup-style approximate-graph clustering a 100 TB embedding
    // dedup actually runs.
    "dedup_cluster_cc" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val sample = Tables.embeddings(s, d)
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
        .cache()
      val pairs = MirroredLsh.candidates(sample)
        .filter(col("cos") >= CosThreshold)
        .select(col("a"), col("b"))
      val labels = components(sample.select(col("vec_id").as("n")), pairs)
      val out = labels.groupBy("lab")
        .agg(count(lit(1)).as("n_members"))
        .select(col("lab").as("rep"), col("n_members"))
        .orderBy("rep")
      sample.unpersist()
      out
    }),
  )

  val oracles: Map[String, String] = Map(
    "dedup_cluster_cc" ->
      s"""WITH RECURSIVE
           ${MirroredLsh.candidateSqlCtes("vec_id % 5 = 0")},
           n AS (SELECT vec_id, v,
                        sqrt(list_aggregate(list_transform(v, x -> x * x),
                                            'sum')) AS nrm
                 FROM e),
           p AS (SELECT cand.a, cand.b
                 FROM cand JOIN n x ON x.vec_id = cand.a
                           JOIN n y ON y.vec_id = cand.b
                 WHERE list_aggregate(list_transform(range(1, 65),
                         i -> x.v[i] * y.v[i]), 'sum') / (x.nrm * y.nrm)
                       >= 0.3),
           ed AS (SELECT a AS s, b AS t FROM p
                  UNION ALL SELECT b, a FROM p),
           reach AS (
             SELECT vec_id AS node, vec_id AS lab FROM e
             UNION
             SELECT ed.t, r.lab FROM reach r JOIN ed ON ed.s = r.node),
           comp AS (SELECT node, min(lab) AS rep FROM reach GROUP BY node)
         SELECT rep, count(*) AS n_members
         FROM comp GROUP BY rep ORDER BY rep""",
  )
}
