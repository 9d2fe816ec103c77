package graft

/** r15 optimization: interior-checkpoint freeing (Ckpt). Guards two
  * properties the oracle cannot see:
  *
  * 1. the helper's safety envelope — root-only matching must make
  *    `free` a no-op on derived frames (freeing leaves under a live
  *    derived plan is the crash mode), and a freed checkpoint must
  *    actually leave the persistent-RDD registry;
  * 2. the per-key footprint — after constructing AND executing an
  *    iterative key, only the checkpoints its returned plan still
  *    references may remain registered. A regression that drops a
  *    free() call (or adds an unfreed interior round) fails the bound.
  *
  * Result parity of every touched key stays pinned by Verify/preflight
  * and the per-key suites — this spec is the storage-discipline gate.
  */
class CkptFreeSpec extends GraftSuite {
  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("free releases a checkpoint root and no-ops on derived frames") {
    val df = spark.range(100).toDF("id").localCheckpoint()
    val derived = df.selectExpr("id * 2 AS x") // root is a Project
    val before = persisted
    Ckpt.free(derived) // must NOT free the checkpoint underneath
    assert(persisted == before)
    assert(derived.count() == 100) // still executable
    Ckpt.free(df)
    assert((before -- persisted).size == 1)
  }

  test("freeLeaves releases the checkpoint under a projection") {
    val df = spark.range(50).toDF("id").localCheckpoint()
    val proj = df.selectExpr("id + 1 AS y")
    val before = persisted
    Ckpt.freeLeaves(proj)
    assert((before -- persisted).size == 1)
  }

  test("iterative keys leave only their returned plan's checkpoints") {
    // expected live checkpoints after construction + action:
    //   graph_bfs_layers: co-purchase e + final dist            = 2
    //   analytics_markov_hitting: pair + states + final h       = 3
    //   sample_farthest_point_coreset: e + 7 per-round argmaxes = 8
    //   analytics_median_polish: final sweep table              = 1
    //   sim_mmr_diversify: final picked                         = 1
    //   dedup_minhash_icws: the final report checkpoint         = 1
    //   sim_graph_ann: the final beam                           = 1
    //   text_bpe_train_rounds: m1 + m2 + sym2                   = 3
    val bounds = Seq(
      "graph_bfs_layers" -> 2,
      "graph_kcore" -> 1, // the end-pinned 6-row census
      "analytics_markov_hitting" -> 3,
      "sample_farthest_point_coreset" -> 8,
      "analytics_median_polish" -> 1,
      "sim_mmr_diversify" -> 1,
      "dedup_minhash_icws" -> 1,
      "sim_graph_ann" -> 1,
      "text_bpe_train_rounds" -> 3,
      // session 4 end-pins: only the small result checkpoint may
      // survive — the doc-grain synopsis (shingles / postings /
      // hashed dims / degree-joined edges) must have been freed
      "dedup_minhash_lsh" -> 1,
      "dedup_minhash_containment" -> 1,
      // (bbit / estimate_quality end-pins were measured-rejected —
      // +0.2–0.3 s wall each at fixture scale; their shingle/sig
      // synopses stay lazily referenced by the returned plans)
      "text_bm25_retrieval" -> 1,
      "sim_hybrid_retrieval" -> 2, // one end-pin per arm
      "graph_pagerank" -> 1,
      // one lazy plan since its single-scan rewrite: no checkpoint
      "graph_degree_distribution" -> 0)
    for ((key, bound) <- bounds) {
      val before = persisted
      val n = SparkEntry.queries(key)(spark, sf).count()
      assert(n > 0, s"$key returned no rows")
      val leaked = (persisted -- before).size
      assert(leaked <= bound,
        s"$key left $leaked persistent RDDs (allowed $bound) — an " +
          "interior checkpoint is no longer being freed")
    }
  }
}
