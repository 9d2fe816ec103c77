package graft

import org.apache.spark.sql.functions._

/** Round-9 curation operators: char-level substring dedup, boilerplate
  * n-grams, hashing-trick features. Oracle parity is preflight's job;
  * these pin the operator SEMANTICS (conservation, bounds,
  * determinism) at sf0.001.
  */
class Curation2Spec extends GraftSuite {

  test("text_substring_dedup_chars: spans bounded by doc, fps conserved") {
    val out = SparkEntry.queries("text_substring_dedup_chars")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nf, ndf, nds, dc, ratio) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))
      assert(ndf <= nf, "duplicated fingerprints cannot exceed fingerprints")
      assert(nds <= ndf, "spans merge fingerprints, never multiply them")
      assert(ratio >= 0.0 && ratio <= 1.0, s"dup_ratio $ratio out of [0,1]")
      // a span covers at least one k-gram and at most chained k-gram mass
      if (ndf > 0) assert(dc >= 40 && dc <= ndf * 40,
        s"dup_chars $dc inconsistent with $ndf fingerprints of 40 chars")
    }
  }

  test("text_substring_dedup_chars: planted UNALIGNED duplicate is detected") {
    // two synthetic docs share a 91-char run at DIFFERENT byte offsets
    // (18 vs 0). A stride-aligned window grid misses this by
    // construction (the windows never line up) — the winnowing
    // guarantee (shared run ≥ k + w − 1 = 59 chars shares a selected
    // fingerprint hash) is exactly what this pins.
    import spark.implicits._
    val shared = "x".*(30) + "BANNER TEXT SHARED ACROSS DOCS " + "y".*(30)
    val docs = Seq(
      (900001L, "en", "srcA", "unique prefix one " + shared),
      (900002L, "en", "srcB", shared + " unique suffix two"))
      .toDF("doc_id", "lang", "source", "text")
    val tmp = java.nio.file.Files.createTempDirectory("c2spec")
    try {
      docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val out = SparkEntry.queries("text_substring_dedup_chars")(spark,
        tmp.toString).collect()
      assert(out.length == 2)
      out.foreach(r => assert(r.getLong(4) >= 40L,
        s"doc ${r.getLong(0)} missed the planted 91-char duplicate run"))
    } finally sources.Staging.deleteTree(tmp)
  }

  test("text_boilerplate_ngrams: one row per source, df bounded by docs") {
    val out = SparkEntry.queries("text_boilerplate_ngrams")(spark, sf)
      .collect()
    val nSrc = Tables.documents(spark, sf).select("source").distinct().count()
    assert(out.length == nSrc)
    out.foreach { r =>
      assert(r.getLong(4) <= r.getLong(1),
        "a 3-gram's source DF cannot exceed the source's doc count")
      assert(r.getLong(3) <= r.getLong(2),
        "boilerplate grams are a subset of distinct grams")
    }
  }

  test("feature_hashed_ngrams: buckets in [0,64), counts consistent") {
    val out = SparkEntry.queries("feature_hashed_ngrams")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 64,
        "nnz must be within the D=64 budget")
      assert(r.getLong(2) >= 0 && r.getLong(2) < 64, "bucket out of range")
      assert(r.getDouble(4) > 0.0)
    }
  }

  test("sample_downweight_duplicates: effective mass bounded by raw") {
    val out = SparkEntry.queries("sample_downweight_duplicates")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nd, nu, raw, eff, disc) = (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getDouble(5))
      assert(nu <= nd, "unique clusters bounded by docs")
      assert(eff <= raw + 1e-9, "effective tokens cannot exceed raw")
      assert(disc >= 0.0 && disc < 1.0, s"discount $disc out of [0,1)")
    }
  }

  test("sample_reservoir_hashrank: exactly min(k, group) rows per lang, mergeable") {
    val out = SparkEntry.queries("sample_reservoir_hashrank")(spark, sf)
    val sizes = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val langs = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    langs.foreach { case (l, n) =>
      assert(sizes(l) == math.min(20L, n), s"lang $l sampled ${sizes(l)}")
    }
    // mergeability: the min-k of two disjoint half-corpus reservoirs
    // equals the full reservoir (the distributed-sampling property)
    import org.apache.spark.sql.functions._
    val base = Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        md5(concat(lit("rsv:"), col("doc_id").cast("string"))).as("u"))
    def topk(df: org.apache.spark.sql.DataFrame) = {
      import org.apache.spark.sql.expressions.Window
      df.withColumn("r", row_number().over(
          Window.partitionBy("lang").orderBy(col("u"), col("doc_id"))))
        .filter(col("r") <= 20).drop("r")
    }
    val whole = topk(base).select("lang", "doc_id").collect().toSet
    val merged = topk(topk(base.filter(col("doc_id") % 2 === 0))
        .unionByName(topk(base.filter(col("doc_id") % 2 =!= 0))))
      .select("lang", "doc_id").collect().toSet
    assert(whole == merged, "hash-rank reservoir is not mergeable")
  }

  test("text_bigram_backoff: backoff path fires and counts are bounded") {
    val out = SparkEntry.queries("text_bigram_backoff")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2),
        "backoff count bounded by bigram count")
      assert(r.getDouble(4) > 0.0, "mean surprise must be positive")
    }
    assert(out.map(_.getLong(3)).sum > 0,
      "the 2% fit must leave unseen bigrams — backoff never fired")
  }

  test("round-9 keys are deterministic across runs") {
    for (k <- Seq("text_substring_dedup_chars", "text_boilerplate_ngrams",
        "feature_hashed_ngrams", "sample_downweight_duplicates",
        "sample_reservoir_hashrank", "text_bigram_backoff")) {
      val a = SparkEntry.queries(k)(spark, sf).collect().toSeq
      val b = SparkEntry.queries(k)(spark, sf).collect().toSeq
      assert(a == b, s"$k is not run-to-run deterministic")
    }
  }

  test("pipeline_chunk_embed_e2e: ranks contiguous, cosine bounded, " +
    "probe/candidate doc sampling respected") {
    val rows = SparkEntry.queries("pipeline_chunk_embed_e2e")(spark, sf)
      .collect()
    assert(rows.nonEmpty, "at least one probe chunk must retrieve")
    def docOf(cid: String): Long = cid.split("#")(0).toLong
    rows.groupBy(_.getString(0)).foreach { case (pcid, rs) =>
      assert(docOf(pcid) % 97 == 0, s"probe $pcid outside the %97 sample")
      val ranks = rs.map(_.getInt(1)).sorted
      assert(ranks.toSeq == (1 to ranks.length), s"$pcid: ranks $ranks")
      assert(ranks.length <= 3)
      rs.foreach { r =>
        val ccid = r.getString(2)
        assert(docOf(ccid) % 5 == 0, s"cand $ccid outside the %5 sample")
        assert(docOf(ccid) != docOf(pcid), "self-doc retrieval leaked")
        assert(r.getLong(3) >= 1L, "joined pairs share a dim → dot >= 1")
        assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0 + 1e-9,
          s"cosine ${r.getDouble(4)} out of (0,1]")
      }
      // ranking is by descending quantized cosine
      val byRank = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"$pcid: cosines not non-increasing down the ranks")
    }
  }

  test("text_substring_dedup_chars: the winnow window rides the " +
      "document-grain repartition — grams are NEVER exchanged (r13 " +
      "ShuffleAudit fix: 60.98 MB -> ~6 MB shuffled at sf0.1)") {
    val df = SparkEntry.queries("text_substring_dedup_chars")(spark, sf)
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the 1×-text exchange exists (repartition by doc_id)...
    assert(phys.contains("REPARTITION_BY_COL"),
      s"document-grain repartition missing:\n$phys")
    // ...and between every winnow Window and its Generate there is a
    // local sort but NO exchange: the gram frame never shuffles. Scan
    // each plan region from a winnow-min Window line down to the next
    // Generate line (deeper indentation = the node's subtree in
    // treeString order).
    val lines = phys.split("\n").toSeq
    // the winnow min prints as `Window [min(_w0#N) windowspec…]` —
    // the struct is projected into _w0 below the window
    val winIdx = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window [min(") => i
    }
    assert(winIdx.nonEmpty, s"winnow window not found:\n$phys")
    winIdx.foreach { i =>
      val below = lines.drop(i + 1)
        .takeWhile(!_.contains("Generate explode"))
      assert(!below.exists(_.contains("Exchange")),
        s"an exchange sits between the winnow window and the gram " +
          s"generate — grams are being shuffled:\n$phys")
    }
  }
}
