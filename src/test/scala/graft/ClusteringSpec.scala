package graft

import org.apache.spark.sql.functions._
import graft.operators.Clustering

/** Cross-checks for the connected-components closure: the distributed
  * min-label-propagation result must equal a driver-side union-find
  * over the same edge set (small by construction — the sampled pair
  * graph), and the partition count must not affect the answer. */
class ClusteringSpec extends GraftSuite {

  private def bruteComponents(): Map[Long, Long] = {
    graft.functions.GraftFunctions.register(spark)
    val sample = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding"))
    val nodes = sample.select("vec_id").collect().map(_.getLong(0))
    // same ANN edge set as the declared query (the CC closure is what
    // this spec cross-checks; the candidate generator itself is
    // oracle-mirrored and verified by preflight)
    val edges = graft.operators.MirroredLsh.candidates(sample)
      .filter(col("cos") >= 0.3)
      .select("a", "b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find with path compression
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    nodes.map(n => n -> find(n)).toMap
  }

  test("dedup_cluster_cc matches driver-side union-find components") {
    val expected = bruteComponents()
      .groupBy(_._2).map { case (rep, m) => rep -> m.size.toLong }
    val got = Clustering.queries("dedup_cluster_cc")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"components differ: got=${got.toSeq.sorted} expected=${expected.toSeq.sorted}")
  }

  test("dedup_cluster_cc covers every sampled node exactly once") {
    val rows = Clustering.queries("dedup_cluster_cc")(spark, sf).collect()
    val nodes = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 5 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getLong(1)).sum == nodes.size)
    // representatives are distinct sampled nodes (labels never escape
    // the vertex set — a stale label would surface here)
    val reps = rows.map(_.getLong(0))
    assert(reps.distinct.length == reps.length)
    assert(reps.forall(nodes.contains))
  }
}
