package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SessionScope, Tables}

/** Near-duplicate detection for a training-data pipeline — the
  * operators a 100 TB LLM-data curation job runs on top of the exact
  * dedup in [[SetDedup]]: MinHash+LSH banding, n-gram Jaccard,
  * SimHash, and embedding-cosine near-dup.
  *
  * Oracle strategy: every hash is `md5` over an explicit string —
  * byte-identical in Spark and DuckDB — and MinHash signatures are
  * lexicographic minima of those hex strings, so the whole
  * shingle → minhash → band → bucket-join → Jaccard-verify pipeline
  * is reproducible in the oracle engine. SimHash likewise derives its
  * per-token bits from md5 hex nibbles (since r5), so the signature —
  * and the banded Hamming join on it — hash-checks in DuckDB too.
  *
  * Scale notes (100 TB):
  *   - MinHash-LSH NEVER does all-pairs: candidates come from the
  *     band-bucket self-join (shuffle keyed on (band, hash) — skew-safe
  *     because a bucket holds only colliding docs), and the expensive
  *     Jaccard verify runs only on candidates.
  *   - the n-gram Jaccard and cosine variants are the *verify*
  *     primitives; their declared queries run on modulus samples and
  *     would be fed by LSH/ANN candidates at scale, not by the
  *     crossJoin of the full corpus.
  *   - shingling hashes before shuffling — only (doc_id, hash) pairs
  *     move, never document text.
  */
object DedupAdvanced {
  type Q = (SparkSession, String) => DataFrame

  /** 64-bit SimHash as a '0'/'1' bit string. Token hash = the first 64
    * bits of md5(token) (hex-nibble extraction — the same derivation as
    * MirroredLsh's hyperplane signs), so since r5 the signature is
    * reproducible in the DuckDB oracle; xxhash64 (the usual choice)
    * has no DuckDB twin and kept this key no-oracle through r4.
    * Per-bit ±1 majority over the document's tokens; integer sums →
    * deterministic; tie (even token count) → '0' in both engines. */
  private[graft] def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      .select(col("doc_id"), md5(col("token")).as("h"))
    val bits = tok.select(col("doc_id"), explode(expr(
      """transform(sequence(0, 63), j -> named_struct(
           'pos', j,
           'pm', CASE WHEN (cast(conv(substring(h, cast(j div 4 as int) + 1, 1),
                                      16, 10) as int)
                            >> (3 - j % 4)) & 1 = 1
                      THEN 1 ELSE -1 END))"""
    )).as("pb")).select(col("doc_id"), col("pb.pos").as("pos"), col("pb.pm").as("pm"))
    bits.groupBy("doc_id", "pos").agg(sum("pm").as("sg"))
      .groupBy("doc_id")
      .agg(expr(
        """array_join(transform(
             array_sort(collect_list(named_struct('pos', pos,
               'bit', CASE WHEN sg > 0 THEN '1' ELSE '0' END))),
             x -> x.bit), '')""").as("simhash"))
  }

  /** distinct word-3-gram shingles per sampled document */
  private def shingles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), explode(expr(
        """array_distinct(zip_with(
             zip_with(slice(t, 1, size(t)-2), slice(t, 2, size(t)-2),
                      (a, b) -> concat(a, ' ', b)),
             slice(t, 3, size(t)-2),
             (ab, c) -> concat(ab, ' ', c)))"""
      )).as("sh"))

  /** MinHash-LSH candidate pairs with exact Jaccard: shingle → 8-seed
    * MinHash → single-hash bands → bucket self-join → shingle-set
    * Jaccard on candidates only. Returns (a, b, jac) with jac
    * UNROUNDED — the shared stage behind dedup_minhash_lsh (ranked
    * report) and pipeline_dedup_e2e (threshold + closure), so the two
    * keys can never diverge on band/hash structure. */
  /** The (doc_id, i, h) MinHash signature frame: ONE aggregation pass
    * computes all 8 seed-minima as parallel min() columns (map-side
    * partial agg carries 8 digest states per doc), then unpivots for
    * the band join. The previous crossJoin(seeds) shape multiplied
    * the shingle shuffle 8× — at 100 TB that is 8 corpus-sized
    * shuffles vs one. Hash strings are "i:shingle" (r5 plan fix). */
  /** Wide (doc_id, h0..h7) signature frame — shared by the banded
    * join (long form below) and the band-geometry eval key. */
  private def minhashWideFrom(shing: DataFrame): DataFrame = {
    val minCols = (0 until 8).map(i =>
      min(md5(concat(lit(i.toString), lit(":"), col("sh")))).as(s"h$i"))
    shing.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  private def minhashSignaturesFrom(wide: DataFrame): DataFrame =
    wide.selectExpr("doc_id",
      "stack(8, " + (0 until 8).map(i => s"${i}L, h$i").mkString(", ") +
        ") AS (i, h)")

  /** tf-weighted word-BIGRAM multiset per sampled document — the
    * weighted feature frame behind `dedup_minhash_icws`. Bigrams, not
    * unigrams: unigram tf mass is dominated by the shared stopword
    * vocabulary, which puts the BASELINE weighted Jaccard of two
    * unrelated docs at ~0.3 and floods the bands (measured: 2,519
    * candidate pairs at sf0.01 vs ~30 for the unweighted 3-gram
    * family). Bigram tf keeps the repeated-boilerplate weighting
    * near-dup detection needs while unrelated-pair J_w collapses. */
  private[graft] def wordTf(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        """zip_with(slice(t, 1, size(t)-1), slice(t, 2, size(t)-1),
             (a, b) -> concat(a, ' ', b))""")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))

  /** ICWS weighted-MinHash signature (r14; Ioffe 2010, "Improved
    * Consistent Weighted Sampling"): per (word, seed) the Gamma(2,1)
    * samples r = −ln(u₁u₂), c = −ln(u₃u₄) and β ~ U(0,1) come from
    * the engine's md5 coin (two 48-bit halves of one digest per
    * role, so they're byte-identical in the DuckDB oracle); per
    * (doc, word) the sample key is evaluated ENTIRELY in the log
    * domain — t = ⌊ln(w)/r + β⌋, ln a = ln c − r·(t + 1 − β) — so the
    * only libm calls are ln (the project's measured cross-engine
    * precedent; exp never appears, ln a is a monotone transform of
    * Ioffe's a and argmin is preserved). P[sig_A(i) = sig_B(i)] =
    * weighted Jaccard Σmin(tfₐ,tf_b)/Σmax(tfₐ,tf_b) — the estimator
    * uniform MinHash gets WRONG on skewed corpora where tf matters.
    * One aggregation pass computes all 8 seed-argmins as parallel
    * min(struct(ln a, w)) columns (map-side partials — the
    * minhashWide lesson); only (doc_id, word-hash) state shuffles,
    * never text. Output: wide (doc_id, s0..s7) signature of WORDS. */
  private[graft] def icwsWide(tf: DataFrame): DataFrame = {
    def unif(c: Column): Column =
      (c.cast("double") + 1.0) / 281474976710656.0
    def u48(role: String, i: Int, start: Int): Column =
      expr(s"CAST(conv(substring(md5(concat('$role$i:', w)), " +
        s"$start, 12), 16, 10) AS BIGINT)")
    // β rides the 32 bits the two 48-bit r-halves leave unused in the
    // SAME digest (md5 bits are independent across positions — the
    // established split-digest pattern), so each (word, seed) costs 2
    // md5 calls, not 3; ln(c) is precomputed here at VOCAB grain so
    // the per-(doc, word) hot path below runs zero ln over c.
    // Long-form params (seed as a COLUMN): the first cut emitted 24
    // wide per-seed literal columns and janino compilation of that
    // projection dominated the key's wall time on a 925-bigram vocab
    // — one expression set over vocab×8 rows codegens 8× smaller and
    // computes the identical doubles.
    val params = tf.select("w").distinct()
      .select(col("w"), explode(expr("sequence(0, 7)")).as("i"))
      .select(col("w"), col("i"),
        (-log(unif(u48c("r", 1)) * unif(u48c("r", 13)))).as("r"),
        log(-log(unif(u48c("c", 1)) * unif(u48c("c", 13)))).as("lnc"),
        ((expr("CAST(conv(substring(md5(concat('r', CAST(i AS STRING), " +
          "':', w)), 25, 8), 16, 10) AS BIGINT)").cast("double") + 1.0)
          / 4294967296.0).as("b"))
    val t = floor(log(col("tf").cast("double")) / col("r") + col("b"))
    val lna = col("lnc") - col("r") * (t + lit(1.0) - col("b"))
    val aggCols = (0 until 8).map { i =>
      min(when(col("i") === i,
        struct(col("k").as("k"), col("w").as("w")))).as(s"m$i")
    }
    tf.join(params, "w")
      .select(col("doc_id"), col("w"), col("i"), lna.as("k"))
      .groupBy("doc_id").agg(aggCols.head, aggCols.tail: _*)
      .select(col("doc_id") +:
        (0 until 8).map(i => col(s"m$i.w").as(s"s$i")): _*)
  }

  /** seed-as-column twin of the literal-seed u48 (icwsWide params). */
  private def u48c(role: String, start: Int): Column =
    expr(s"CAST(conv(substring(md5(concat('$role', CAST(i AS STRING), " +
      s"':', w)), $start, 12), 16, 10) AS BIGINT)")

  /** Run `f` with spark.sql.shuffle.partitions pinned to 8, restoring
    * the session default after (the Streaming.withStreamShuffle shape,
    * unified here per VERDICT r14 #4): every post-scan frame in the
    * ICWS pipelines is ≤ doc-bigram grain, and at the session's 32
    * partitions per-stage empty-task overhead dominates wall time.
    * SAFE ONLY because each call site materializes its result inside
    * the scope (eager localCheckpoint) — a lazily-returned frame
    * would execute under the RESTORED conf. */
  private def withShuffle8[T](s: SparkSession)(f: => T): T =
    SessionScope.withConf(s)("spark.sql.shuffle.partitions" -> "8")(f)

  /** Distinct band-collision candidate pairs (da < db) from a
    * signature frame — never all-pairs. */
  private def minhashCandidates(mh: DataFrame): DataFrame =
    mh.toDF("da", "ia", "ha")
      .join(mh.toDF("db", "ib", "hb"),
        col("ia") === col("ib") && col("ha") === col("hb") &&
          col("da") < col("db"))
      .select("da", "db").distinct()

  /** r15 (guide §2.4/§5): every consumer of the MinHash stage re-ran
    * the shingle explode per reference (signatures, sizes, and the
    * two intersection legs — 8+ parquet scans per key in the static
    * plans). The shingle frame is materialized ONCE per key and every
    * downstream view derives from it — the materialize-the-synopsis
    * discipline the ICWS twin already followed. */
  private def minhashJaccard(s: SparkSession, d: String): DataFrame = {
    val shing = shingles(s, d).localCheckpoint()
    // r15 #5 (session 4): END-PIN the candidate-pair report (band-
    // candidate grain, KBs) so the doc-grain shingle synopsis —
    // ~5.4 MB resident per consumer key in the storage census — is
    // freed at construction instead of lingering for the session.
    val pairs = minhashJaccardFrom(shing,
      minhashSignaturesFrom(minhashWideFrom(shing)))
      .localCheckpoint(true)
    graft.Ckpt.free(shing)
    pairs
  }

  private def minhashJaccardFrom(shing: DataFrame, mh: DataFrame): DataFrame = {
    val cand = minhashCandidates(mh)
    val sizes = shing.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(shing.toDF("sda", "sha"), col("sda") === col("da"))
      .join(shing.toDF("sdb", "shb"),
        col("sdb") === col("db") && col("shb") === col("sha"))
      .groupBy("da", "db").agg(count(lit(1)).as("ni"))
    cand.join(inter, Seq("da", "db"), "left")
      .join(sizes.toDF("xd", "xn"), col("xd") === col("da"))
      .join(sizes.toDF("yd", "yn"), col("yd") === col("db"))
      .select(col("da").as("a"), col("db").as("b"),
        (coalesce(col("ni"), lit(0)).cast("double") /
          (col("xn") + col("yn") - coalesce(col("ni"), lit(0)))).as("jac"),
        coalesce(col("ni"), lit(0)).as("ni"),
        col("xn").as("na"), col("yn").as("nb"))
  }

  /** URL canonicalizer, all codegen'd string ops: lowercase
    * scheme+host (path case preserved), strip tracking params
    * (utm_ prefixes and ref) — repairing a "?&" left when a tracking
    * param preceded a kept one — and trim trailing "/" / "?". The
    * column must be named `url` (split_part refs). Unit cases incl.
    * the mixed-params repair live in DedupAdvancedSpec. */
  private[graft] def canonicalizeUrl(url: Column): Column = {
    val p1 = expr("split_part(url, '/', 1)")
    val p3 = expr("split_part(url, '/', 3)")
    val lowered = concat(lower(p1), lit("//"), lower(p3),
      substring(url,
        (length(p1) + length(p3) + lit(3)).cast("int"), lit(100000)))
    // order matters: (1) drop '&'-prefixed tracking params, (2) a
    // leading tracking param followed by a kept one collapses to '?',
    // (3) a lone leading tracking param disappears, (4) trim tail
    val s1 = regexp_replace(lowered, lit("&(utm_[a-z]+|ref)=[^&]*"), lit(""))
    val s2 = regexp_replace(s1,
      lit("\\?(utm_[a-z]+|ref)=[^&]*&"), lit("?"))
    val s3 = regexp_replace(s2,
      lit("\\?(utm_[a-z]+|ref)=[^&]*$"), lit(""))
    regexp_replace(s3, lit("[/?]+$"), lit(""))
  }

  val queries: Map[String, Q] = Map(
    // URL canonicalization dedup — the web-corpus curation step;
    // canonicalizer above, then dedup on the canonical form. URLs are
    // synthesized deterministically from doc_id (host %7 × path %50 →
    // real collisions); no UDF, no shuffle before the dedup aggregate.
    // Token-sort (bag-of-words) dedup — catches reordered duplicates
    // exact hashing misses: the canonical form is the SORTED token
    // multiset, hashed BEFORE the shuffle (one md5 per doc moves, not
    // text). Between dedup_exact (order-sensitive) and MinHash
    // (approximate): exact under permutation, one keyed aggregate.
    "dedup_token_sort" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), col("doc_id"),
          md5(concat_ws(" ", array_sort(split(col("text"), " "))))
            .as("bag_key"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("bag_key")).as("n_bags"),
          (count(lit(1)) - countDistinct(col("bag_key"))).as("n_dup_docs"))
        .orderBy("lang")),

    "dedup_url_canonical" -> ((s, d) => {
      val url = concat(lit("https://WWW.Example"), col("doc_id") % 7,
        lit(".COM/Path"), col("doc_id") % 50,
        lit("/?utm_source=feed&ref="), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("url", url)
        .withColumn("canon", canonicalizeUrl(col("url")))
        .groupBy("canon")
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_doc"))
        .orderBy("canon")
    }),
    // shingle → 8-seed MinHash → 8 single-hash bands → bucket join →
    // Jaccard verify on candidates only.
    "dedup_minhash_lsh" -> ((s, d) =>
      minhashJaccard(s, d)
        .select(col("a"), col("b"), round(col("jac"), 4).as("jac"))
        .orderBy(col("jac").desc, col("a"), col("b"))
        .limit(20)),

    // b-bit minhash (r9; Li & König 2010, "b-Bit Minwise Hashing"):
    // store only the LAST hex nibble's parity of each of the 8
    // MinHash minima — 1 bit per hash, a 128× signature compression
    // vs the 32-hex minima — and estimate Jaccard from the matched-
    // bit fraction m with the b=1 bias correction Ĵ = 2m − 1 (a
    // non-matching pair agrees per bit with p = 1/2, so m ≈
    // J + (1−J)/2). At 100 TB the 8-bit signatures ride shuffles
    // and broadcasts at byte cost where full minima are 256 bytes —
    // THE storage/accuracy dial for corpus-scale dedup; this key is
    // its eval harness: per band candidate, the 1-bit estimate vs
    // the signature-agreement estimate vs exact shingle Jaccard.
    // Candidates stay the shared banded join — never all-pairs.
    "dedup_bbit_minhash" -> ((s, d) => {
      // r15: one shingle materialization feeds the wide signatures,
      // the bit projection AND the exact-Jaccard leg
      val shing = shingles(s, d).localCheckpoint()
      val wide = minhashWideFrom(shing).localCheckpoint()
      val bitCols = (0 until 8).map(i =>
        (expr(s"CAST(conv(substring(h$i, 32, 1), 16, 10) AS INT)") % 2)
          .as(s"b$i"))
      val bits = wide.select((col("doc_id") +: bitCols): _*)
      val jac = minhashJaccardFrom(shing, minhashSignaturesFrom(wide))
      val ba = bits.toDF(("xa" +: (0 until 8).map(i => s"ba$i")): _*)
      val bb = bits.toDF(("xb" +: (0 until 8).map(i => s"bb$i")): _*)
      val nMatch = (0 until 8).map(i =>
        when(col(s"ba$i") === col(s"bb$i"), 1).otherwise(0))
        .reduce(_ + _)
      // r15 session 4: an end-pin + free(shing, wide) variant was
      // MEASURED (min-of-3 alternating probes) at +0.28 s wall /
      // +0.20 s task — the extra execution boundary costs more than
      // the ~5.8 MB ambient relief is worth (the full-board A/B put
      // the downstream effect inside noise). Lazy form retained.
      jac.join(ba, col("a") === col("xa"))
        .join(bb, col("b") === col("xb"))
        .select(col("a"), col("b"),
          (floor(col("jac") * 10000) / 10000).as("jac4"),
          nMatch.as("n_bits_match"),
          greatest(lit(0.0),
            nMatch.cast("double") * 2.0 / 8.0 - 1.0).as("est_bbit"))
        .withColumn("err4",
          floor(abs(col("est_bbit") - col("jac4")) * 10000) / 10000)
        .orderBy("a", "b")
    }),

    // Asymmetric CONTAINMENT dedup (round 6): |A∩B| / min(|A|,|B|)
    // over the same MinHash-band candidates. Jaccard misses the
    // quote-inside-a-larger-page duplication pattern (|A∩B|/|A∪B|
    // shrinks as the size gap grows); containment flags a document
    // fully embedded in another even when Jaccard is tiny — the C4/
    // RefinedWeb-style sub-document leak check. Shares the candidate
    // generator with dedup_minhash_lsh (one shingle scan, one band
    // join at scale), so candidates stay bucketed, never all-pairs.
    "dedup_minhash_containment" -> ((s, d) =>
      minhashJaccard(s, d)
        .select(col("a"), col("b"),
          (floor(col("ni").cast("double") / least(col("na"), col("nb"))
            * 10000).cast("double") / 10000.0).as("cont"),
          round(col("jac"), 4).as("jac"))
        .orderBy(col("cont").desc, col("a"), col("b"))
        .limit(20)),

    // THE composed curation flow, end-to-end in one declared query:
    // MinHash estimator quality (round 6) — the companion eval to
    // `sim_ann_recall_eval`: per band candidate, compare the
    // signature-agreement Jaccard estimate (agreeing seeds / 8 —
    // exact eighths) against the exact shingle-set Jaccard the verify
    // stage computes. Agreement is joined per CANDIDATE (8 rows per
    // pair), never all-pairs; the exact leg reuses the shared
    // minhashJaccard stage. THIS is how the band/seed counts get
    // tuned at 100 TB: run the eval on a sample, widen seeds until
    // the estimator error is inside the verify threshold margin.
    "dedup_minhash_estimate_quality" -> ((s, d) => {
      // r15: one shingle materialization + one signature
      // materialization feed the agreement leg (3 refs) and the
      // exact-Jaccard leg
      val shing = shingles(s, d).localCheckpoint()
      val mh = minhashSignaturesFrom(minhashWideFrom(shing))
        .localCheckpoint()
      val agree = minhashCandidates(mh)
        .join(mh.toDF("xa", "i", "ha"), col("xa") === col("da"))
        .join(mh.toDF("xb", "ib", "hb"),
          col("xb") === col("db") && col("ib") === col("i"))
        .groupBy("da", "db")
        .agg(count(when(col("ha") === col("hb"), lit(1))).as("n_agree"))
      // r15 session 4: an end-pin + free(shing, mh) variant was
      // MEASURED at +0.23 s wall / +0.16 s task (min-of-3 alternating
      // probes) — rejected like the bbit twin; lazy form retained.
      agree.join(minhashJaccardFrom(shing, mh),
          col("da") === col("a") && col("db") === col("b"))
        .select(col("a"), col("b"), col("n_agree"),
          (col("n_agree").cast("double") / 8).as("est_jac"),
          (floor(col("jac") * 10000).cast("double") / 10000.0).as("jac4"),
          (floor(abs(col("n_agree") / lit(8.0) - col("jac")) * 10000)
            .cast("double") / 10000.0).as("abs_err"))
        .orderBy("a", "b")
    }),

    // Weighted MinHash (r14, VERDICT r13 gap #1; Ioffe 2010 ICWS) —
    // production near-dup on skewed corpora weights shingles by tf:
    // two docs sharing their high-frequency vocabulary ARE near-dups
    // even when their long tails differ, and uniform MinHash
    // (which treats a 50-occurrence word and a hapax identically)
    // underestimates exactly that. Signature machinery in icwsWide;
    // banding = 4 bands × 2 rows (collision needs TWO agreeing
    // samples — single-sample bands bucket every doc whose argmin is
    // the same stopword, and at corpus scale that bucket is the skew
    // bomb); candidates verify against EXACT weighted Jaccard
    // Σmin/Σmax (Σmax = |A|+|B|−Σmin, all integer tf sums). The
    // declared report: per banded candidate, 8-sample agreement
    // estimate vs exact J_w, with the absolute error — the
    // estimate-quality harness shape, oracle-checked end to end.
    "dedup_minhash_icws" -> ((s, d) => {
      // The whole pipeline runs at 8 shuffle partitions (the scoped
      // withShuffle8 helper — see its scaladoc for the
      // materialize-inside-the-scope contract); the final
      // localCheckpoint materializes inside the scope so nothing
      // escapes the conf restore.
      withShuffle8(s) {
      // tf feeds the signature build, the doc totals AND the pair
      // intersections; sig feeds the bands and the agreement count;
      // cand feeds three joins. Checkpoint each once (the MMR/greedy
      // multi-consumer precedent) — without this the bigram explode
      // re-runs three times.
      val tf = wordTf(s, d).localCheckpoint()
      val sig = icwsWide(tf).localCheckpoint()
      val bands = sig.selectExpr("doc_id",
        "stack(4, " + (0 until 4).map(b =>
          s"${b}L, concat(s${2 * b}, '|', s${2 * b + 1})")
          .mkString(", ") + ") AS (b, bk)")
      val cand = bands.toDF("da", "ba", "ka")
        .join(bands.toDF("db", "bb", "kb"),
          col("ba") === col("bb") && col("ka") === col("kb") &&
            col("da") < col("db"))
        .select("da", "db").distinct()
        .localCheckpoint()
      // n_agree is a PROJECTION over the two wide signatures (8
      // column equalities summed) — no unpivot, no aggregate, no
      // extra shuffle; the signatures ride the same candidate join
      // the verify legs need anyway
      val sa = sig.toDF(("sda" +: (0 until 8).map(i => s"a$i")): _*)
      val sb = sig.toDF(("sdb" +: (0 until 8).map(i => s"b$i")): _*)
      val nAgree = (0 until 8).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
        .reduce(_ + _).cast("long")
      val tot = tf.groupBy("doc_id").agg(sum("tf").as("n"))
      val inter = cand
        .join(tf.toDF("ta", "wa", "fa"), col("ta") === col("da"))
        .join(tf.toDF("tb", "wb", "fb"),
          col("tb") === col("db") && col("wb") === col("wa"))
        .groupBy("da", "db").agg(sum(least(col("fa"), col("fb"))).as("nmin"))
      val jw = coalesce(col("nmin"), lit(0L)).cast("double") /
        (col("na") + col("nb") - coalesce(col("nmin"), lit(0L)))
      val out = cand.join(inter, Seq("da", "db"), "left")
        .join(tot.toDF("xd", "na"), col("xd") === col("da"))
        .join(tot.toDF("yd", "nb"), col("yd") === col("db"))
        .join(sa, col("sda") === col("da"))
        .join(sb, col("sdb") === col("db"))
        .withColumn("n_agree", nAgree)
        .select(col("da").as("a"), col("db").as("b"), col("n_agree"),
          (col("n_agree").cast("double") / 8).as("est_jw"),
          (floor(jw * 10000).cast("double") / 10000).as("jw4"),
          (floor(abs(col("n_agree") / lit(8.0) - jw) * 10000)
            .cast("double") / 10000).as("err4"))
        .orderBy("a", "b")
        .localCheckpoint()
      // the final eager checkpoint above was the last consumer of all
      // three interior materializations (r15 #5)
      graft.Ckpt.free(tf, sig, cand)
      out
      }
    }),

    // ICWS band-geometry eval (r15, VERDICT r14 cap #1) — the weighted
    // twin of `dedup_lsh_band_eval`: for band geometries (8×1, 4×2,
    // 2×4) over the 8-sample ICWS signature, candidate volume and
    // recall against EXACT weighted-Jaccard truth (J_w ≥ 0.5 over all
    // sampled pairs — the same bounded tune-on-a-sample contract as
    // the unweighted harness; pairs sharing no bigram have J_w = 0, so
    // the tf equi-join is recall-complete for truth). The S-curve
    // trade this table shows is how r·b gets chosen at 100 TB: more
    // rows per band → sharper threshold, fewer candidates, lower
    // recall at fixed J_w. At sf0.01 no pair reaches 0.5 (max J_w
    // 0.10) → recall NULL, candidate counts still differentiate the
    // geometries; sf0.001/0.1 have real weighted near-dups.
    "dedup_icws_band_eval" -> ((s, d) => withShuffle8(s) {
      val tf = wordTf(s, d).localCheckpoint()
      val sig = icwsWide(tf).localCheckpoint()
      val tot = tf.groupBy("doc_id").agg(sum("tf").as("n"))
      val inter = tf.toDF("ta", "wa", "fa")
        .join(tf.toDF("tb", "wb", "fb"),
          col("wb") === col("wa") && col("ta") < col("tb"))
        .groupBy(col("ta").as("da"), col("tb").as("db"))
        .agg(sum(least(col("fa"), col("fb"))).as("nmin"))
      val truth = inter
        .join(tot.toDF("xd", "na"), col("xd") === col("da"))
        .join(tot.toDF("yd", "nb"), col("yd") === col("db"))
        .filter(col("nmin").cast("double") /
          (col("na") + col("nb") - col("nmin")) >= 0.5)
        .select("da", "db")
        .localCheckpoint(true)
      val truthCnt = truth.agg(count(lit(1)).as("n_truth"))
      val geos = Seq((8, 1), (4, 2), (2, 4))
      // r15 (guide §2.4): ONE banded self-join for all three
      // geometries instead of three. The 14 band keys (8+4+2) explode
      // with a geometry tag, the tag joins as part of the band key, so
      // per-geometry candidate sets are disjoint by construction and
      // the per-geo counts are IDENTICAL to three separate joins —
      // but the signature frame is exploded once, shuffled once, and
      // deduped once (3 joins + 3 distincts + 6 agg jobs → 1/1/2).
      val bandCols = for ((bands, rpb) <- geos; b <- 0 until bands)
        yield struct(lit(bands).as("geo"), lit(b.toLong).as("b"),
          concat_ws("|",
            (0 until rpb).map(r => col(s"s${b * rpb + r}")): _*).as("bk"))
      val banded = sig
        .select(col("doc_id"), explode(array(bandCols: _*)).as("g"))
        .select(col("doc_id"), col("g.geo").as("geo"), col("g.b").as("b"),
          col("g.bk").as("bk"))
      val cand = banded.toDF("da", "ga", "ba", "ka")
        .join(banded.toDF("db", "gb", "bb", "kb"),
          col("ga") === col("gb") && col("ba") === col("bb") &&
            col("ka") === col("kb") && col("da") < col("db"))
        .select(col("ga").as("geo"), col("da"), col("db")).distinct()
        .localCheckpoint()
      val nc = cand.groupBy("geo").agg(count(lit(1)).as("n_cand"))
      val nh = cand.join(truth, Seq("da", "db"), "left_semi")
        .groupBy("geo").agg(count(lit(1)).as("n_hit"))
      val geoDf = sig.sparkSession.range(1)
        .select(explode(array(geos.map { case (b, r) =>
          struct(lit(b).as("bands"), lit(r).as("rows_per_band"))
        }: _*)).as("g"))
        .select(col("g.bands").as("bands"),
          col("g.rows_per_band").as("rows_per_band"))
      val out = geoDf
        .join(nc, col("bands") === nc("geo"), "left").drop("geo")
        .join(nh, col("bands") === nh("geo"), "left").drop("geo")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .crossJoin(truthCnt)
        .withColumn("recall4", when(col("n_truth") === 0, lit(null))
          .otherwise(floor(col("n_hit").cast("double") /
            col("n_truth") * 1e4) / 1e4))
        .select("bands", "rows_per_band", "n_cand", "n_truth",
          "n_hit", "recall4")
        .orderBy(col("bands").desc)
        .localCheckpoint()
      // all four interior materializations were fully absorbed by the
      // final 3-row eager checkpoint above (r15 #5)
      graft.Ckpt.free(tf, sig, truth, cand)
      out
    }),

    // shingle → MinHash bands → candidate pairs → Jaccard VERIFY
    // (≥ 0.5) → connected-component closure → keep the min-id doc per
    // cluster. This is what a 100 TB near-dup job actually runs; every
    // stage is the already-verified primitive (minhash key, CC
    // helper), so the whole pipeline stays oracle-checkable. At
    // sf0.01's sample no candidate survives the verify threshold (all
    // docs kept — the oracle agrees); sf0.1 has real near-dup pairs
    // (Jaccard up to 0.99) that merge and drop survivors.
    "pipeline_dedup_e2e" -> ((s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val shing = shingles(s, d).localCheckpoint()
      val verified = minhashJaccardFrom(shing,
          minhashSignaturesFrom(minhashWideFrom(shing)))
        .filter(col("jac") >= 0.5)
        .select(col("a"), col("b"))
      val labels = Clustering.components(
        docs.select(col("doc_id").as("n")), verified)
      // components() materialized the verified pair list eagerly (its
      // edge RDD persists + counts), so the shingle synopsis has no
      // unexecuted consumer left (r15 #5); the returned census reads
      // docs + the CC label frame only
      graft.Ckpt.free(shing)
      docs.join(labels, docs("doc_id") === labels("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_in"),
          count(when(col("n") === col("lab"), 1)).as("n_kept"))
        .orderBy("lang")
    }),

    // Exact word-set Jaccard over a small sample — the verify
    // primitive (fed by LSH candidates at scale).
    "dedup_ngram_jaccard" -> ((s, d) => {
      val ws = Tables.documents(s, d)
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
      ws.toDF("a", "wa").join(ws.toDF("b", "wb"), col("a") < col("b"))
        .select(col("a"), col("b"),
          size(array_intersect(col("wa"), col("wb"))).as("ni"),
          (size(col("wa")) + size(col("wb"))).as("tot"))
        .select(col("a"), col("b"),
          round(col("ni").cast("double") / (col("tot") - col("ni")), 4).as("jac"))
        .orderBy(col("jac").desc, col("a"), col("b"))
        .limit(10)
    }),

    // Embedding-cosine near-dup, scale-shaped: md5-Rademacher sign-LSH
    // buckets generate the candidate pairs (shuffle on (table,
    // signature) — never an all-pairs join), exact cosine via the
    // native codegen'd CosineSimilarity runs on collisions only, and
    // the top near-dup candidates are ranked. The oracle reproduces
    // the EXACT candidate set (MirroredLsh.candidateSqlCtes), so LSH
    // recall cannot cause a hash mismatch — both engines rank the same
    // pairs.
    "dedup_embedding_neardup" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      MirroredLsh.candidates(
          Tables.embeddings(s, d)
            .filter(col("vec_id") % 20 === 0)
            .select(col("vec_id"), col("embedding")))
        .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
        .orderBy(col("cos").desc, col("a"), col("b"))
        .limit(10)
    }),

    // 64-bit SimHash (md5-bit token hashes, per-bit majority vote) +
    // Hamming distance via the native codegen hamming_bits kernel (one
    // fused byte loop vs the HOF split/zip_with chain's three array
    // allocations per pair). Candidates come from a 4×16-bit BAND
    // equi-join — any pair within Hamming ≤ 3 must share an exact
    // band (pigeonhole), the standard SimHash scale path; exact
    // Hamming runs on collisions only, never all-pairs. Oracle-checked
    // since r5: md5 signatures + band join are reproduced in SQL.
    "dedup_simhash" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val sims = simhash(
        Tables.documents(s, d)
          .filter(col("doc_id") % 25 === 0)
          .select(col("doc_id"), col("text")))
      val banded = sims.select(col("doc_id"), col("simhash"),
        posexplode(expr(
          "transform(sequence(0, 3), b -> substring(simhash, b * 16 + 1, 16))"))
          .as(Seq("band", "bval")))
      banded.as("x").join(banded.as("y"),
          col("x.band") === col("y.band") &&
            col("x.bval") === col("y.bval") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
          expr("hamming_bits(x.simhash, y.simhash)").as("hamming"))
        .groupBy("a", "b").agg(min(col("hamming")).as("hamming"))
        .orderBy(col("hamming"), col("a"), col("b"))
        .limit(10)
    }),

    // Band-geometry tuning harness — the dedup twin of
    // sim_ann_recall_eval: for three (bands × rows-per-band) splits of
    // the same 8 MinHash values, measure candidate volume and recall
    // against exact-Jaccard ≥ 0.5 truth. This is how b×r gets chosen
    // before a 100 TB run: more bands → higher recall AND more
    // candidate pairs to verify (the S-curve moves left). Truth comes
    // from the shingle inverted index (an equi-join — any pair with
    // J ≥ 0.5 shares shingles by definition, so the index is
    // recall-complete and never all-pairs); at sf0.01 the %5 sample
    // has no J ≥ 0.5 pair (max 0.037) so recall is NULL there, while
    // sf0.1's 10 planted near-dups split the geometries (8×1 and 4×2
    // catch 10/10, 2×4 catches 10/10 at far lower candidate volume).
    // The harness itself runs on a bounded sample by design — tune on
    // a sample, serve with the banded join.
    "dedup_lsh_band_eval" -> ((s, d) => {
      // wide and truth feed 3 geometry branches + the truth count of
      // ONE declared plan; localCheckpoint (the CC-loop precedent)
      // materializes each tiny frame once (docs/5 rows × 8 hashes;
      // truth is the near-dup pair list) instead of re-running the
      // minhash agg / shingle self-join per branch — cache() is out
      // because the plan is returned lazily and the pairing
      // convention (cache ⇒ unpersist before return) can't hold.
      // r15: the shingle frame is materialized once too — sizes and
      // the two shared-shingle legs re-ran the explode before
      val shing = shingles(s, d).localCheckpoint()
      val wide = minhashWideFrom(shing).localCheckpoint(true)
      val sizes = shing.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val shared = shing.toDF("sda", "sha")
        .join(shing.toDF("sdb", "shb"),
          col("sha") === col("shb") && col("sda") < col("sdb"))
        .groupBy(col("sda").as("da"), col("sdb").as("db"))
        .agg(count(lit(1)).as("ni"))
      val truth = shared
        .join(sizes.toDF("xd", "xn"), col("xd") === col("da"))
        .join(sizes.toDF("yd", "yn"), col("yd") === col("db"))
        .filter(col("ni").cast("double") /
          (col("xn") + col("yn") - col("ni")) >= 0.5)
        .select("da", "db")
        .localCheckpoint(true)
      val truthCnt = truth.agg(count(lit(1)).as("n_truth"))
      val geos = Seq((8, 1), (4, 2), (2, 4))
      // r15 (guide §2.4; the dedup_icws_band_eval twin): ONE banded
      // self-join for all three geometries — the 14 band keys explode
      // with a geometry tag that joins as part of the band key, so
      // per-geometry candidate sets stay disjoint and the counts are
      // identical to three separate joins at a third of the passes.
      val bandCols = for ((bands, rpb) <- geos; b <- 0 until bands)
        yield struct(lit(bands).as("geo"), lit(b.toLong).as("b"),
          md5(concat_ws("|",
            (0 until rpb).map(r => col(s"h${b * rpb + r}")): _*)).as("bh"))
      val banded = wide
        .select(col("doc_id"), explode(array(bandCols: _*)).as("g"))
        .select(col("doc_id"), col("g.geo").as("geo"), col("g.b").as("b"),
          col("g.bh").as("bh"))
      val cand = banded.toDF("da", "ga", "ba", "ha")
        .join(banded.toDF("db", "gb", "bb", "hb"),
          col("ga") === col("gb") && col("ba") === col("bb") &&
            col("ha") === col("hb") && col("da") < col("db"))
        .select(col("ga").as("geo"), col("da"), col("db")).distinct()
        .localCheckpoint()
      val nc = cand.groupBy("geo").agg(count(lit(1)).as("n_cand"))
      val nh = cand.join(truth, Seq("da", "db"), "left_semi")
        .groupBy("geo").agg(count(lit(1)).as("n_hit"))
      val geoDf = wide.sparkSession.range(1)
        .select(explode(array(geos.map { case (b, r) =>
          struct(lit(b).as("bands"), lit(r).as("rows_per_band"))
        }: _*)).as("g"))
        .select(col("g.bands").as("bands"),
          col("g.rows_per_band").as("rows_per_band"))
      geoDf
        .join(nc, col("bands") === nc("geo"), "left").drop("geo")
        .join(nh, col("bands") === nh("geo"), "left").drop("geo")
        .select(col("bands"), col("rows_per_band"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .crossJoin(truthCnt)
        .withColumn("recall4", when(col("n_truth") === 0, lit(null))
          .otherwise(floor(col("n_hit").cast("double") /
            col("n_truth") * 1e4) / 1e4))
        .select("bands", "rows_per_band", "n_cand", "n_truth",
          "n_hit", "recall4")
        .orderBy(col("bands").desc)
    }),
  )

  /** DuckDB twin of the Spark-side 48-bit md5 coin: fold 12 hex chars
    * of digest column `h` starting at `start` into a BIGINT (the
    * strpos pattern; pow(16, 11) < 2^53 so the double sum is exact). */
  private def duckU48(h: String, start: Int): String =
    s"""CAST(list_aggregate(list_transform(range($start, ${start + 12}),
          j -> (strpos('0123456789abcdef', substr($h, CAST(j AS INT), 1))
                - 1) * pow(16, ${start + 11} - j)), 'sum') AS BIGINT)"""

  private def duckUnif(h: String, start: Int): String =
    s"((${duckU48(h, start)}) + 1.0) / 281474976710656.0"

  /** 32-bit companion of [[duckU48]] (8 hex chars from `start`). */
  private def duckU32(h: String, start: Int): String =
    s"""CAST(list_aggregate(list_transform(range($start, ${start + 8}),
          j -> (strpos('0123456789abcdef', substr($h, CAST(j AS INT), 1))
                - 1) * pow(16, ${start + 7} - j)), 'sum') AS BIGINT)"""

  /** The ICWS signature build as DuckDB CTEs (tok → bigram tf → vocab
    * × 8 seeds → log-domain Gamma params → ln a per (doc, word, seed)
    * → per-seed argmin word `sig(doc_id, i, sw)`) — the digit-for-
    * digit mirror of [[icwsWide]], shared by the `dedup_minhash_icws`
    * oracle and the r15 `dedup_icws_band_eval` oracle so the two can
    * never drift apart. */
  private def icwsSigSqlCtes: String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS t
                FROM documents WHERE doc_id % 5 = 0),
              tf AS MATERIALIZED (
                SELECT doc_id, w, count(*) AS tf FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(t)),
                         i -> t[i] || ' ' || t[i+1])) AS w
                  FROM tok WHERE len(t) >= 2)
                GROUP BY doc_id, w),
              vocab AS (SELECT DISTINCT w FROM tf),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              hs AS (SELECT w, i,
                       md5('r' || CAST(i AS VARCHAR) || ':' || w) AS hr,
                       md5('c' || CAST(i AS VARCHAR) || ':' || w) AS hc
                     FROM vocab CROSS JOIN seeds),
              par AS MATERIALIZED (
                SELECT w, i,
                       -ln((${duckUnif("hr", 1)}) * (${duckUnif("hr", 13)}))
                         AS r,
                       ln(-ln((${duckUnif("hc", 1)})
                              * (${duckUnif("hc", 13)}))) AS lnc,
                       ((${duckU32("hr", 25)}) + 1.0) / 4294967296.0
                         AS beta
                FROM hs),
              lna AS MATERIALIZED (
                SELECT f.doc_id, f.w, p.i,
                       p.lnc - p.r *
                         (floor(ln(CAST(f.tf AS DOUBLE)) / p.r + p.beta)
                          + 1.0 - p.beta) AS k
                FROM tf f JOIN par p ON p.w = f.w),
              sig AS MATERIALIZED (
                SELECT doc_id, i, w AS sw FROM (
                  SELECT doc_id, i, w, row_number() OVER (
                           PARTITION BY doc_id, i ORDER BY k, w) AS rn
                  FROM lna) WHERE rn = 1)"""

  val oracles: Map[String, String] = Map(
    "dedup_minhash_icws" ->
      s"""WITH $icwsSigSqlCtes,
              bands AS (SELECT p.doc_id, p.i // 2 AS b,
                               p.sw || '|' || q.sw AS bk
                        FROM sig p JOIN sig q
                          ON q.doc_id = p.doc_id AND q.i = p.i + 1
                        WHERE p.i % 2 = 0),
              cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db
                       FROM bands x JOIN bands y
                         ON x.b = y.b AND x.bk = y.bk
                            AND x.doc_id < y.doc_id),
              agree AS (SELECT c.da, c.db,
                               count(CASE WHEN p.sw = q.sw THEN 1 END)
                                 AS n_agree
                        FROM cand c
                        JOIN sig p ON p.doc_id = c.da
                        JOIN sig q ON q.doc_id = c.db AND q.i = p.i
                        GROUP BY c.da, c.db),
              tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n
                      FROM tf GROUP BY doc_id),
              inter AS (SELECT c.da, c.db,
                               CAST(sum(least(x.tf, y.tf)) AS BIGINT)
                                 AS nmin
                        FROM cand c
                        JOIN tf x ON x.doc_id = c.da
                        JOIN tf y ON y.doc_id = c.db AND y.w = x.w
                        GROUP BY c.da, c.db),
              fin AS (SELECT c.da, c.db, ag.n_agree,
                             CAST(coalesce(i.nmin, 0) AS DOUBLE)
                               / (tx.n + ty.n - coalesce(i.nmin, 0)) AS jw
                      FROM cand c
                      JOIN agree ag ON ag.da = c.da AND ag.db = c.db
                      LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
                      JOIN tot tx ON tx.doc_id = c.da
                      JOIN tot ty ON ty.doc_id = c.db)
         SELECT da AS a, db AS b, n_agree,
                CAST(n_agree AS DOUBLE) / 8 AS est_jw,
                CAST(floor(jw * 10000) AS DOUBLE) / 10000 AS jw4,
                CAST(floor(abs(n_agree / 8.0 - jw) * 10000) AS DOUBLE)
                  / 10000 AS err4
         FROM fin ORDER BY a, b""",
    "dedup_icws_band_eval" ->
      s"""WITH $icwsSigSqlCtes,
              tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n
                      FROM tf GROUP BY doc_id),
              pin AS MATERIALIZED (
                SELECT x.doc_id AS da, y.doc_id AS db,
                       CAST(sum(least(x.tf, y.tf)) AS BIGINT) AS nmin
                FROM tf x JOIN tf y
                  ON y.w = x.w AND x.doc_id < y.doc_id
                GROUP BY x.doc_id, y.doc_id),
              truth AS MATERIALIZED (
                SELECT p.da, p.db
                FROM pin p JOIN tot tx ON tx.doc_id = p.da
                           JOIN tot ty ON ty.doc_id = p.db
                WHERE CAST(p.nmin AS DOUBLE)
                      / (tx.n + ty.n - p.nmin) >= 0.5),
              tc AS (SELECT count(*) AS n_truth FROM truth),
              g AS (SELECT unnest([8, 4, 2]) AS bands,
                           unnest([1, 2, 4]) AS rpb),
              bnd AS MATERIALIZED (
                SELECT s.doc_id, gg.bands, gg.rpb, s.i // gg.rpb AS b,
                       string_agg(s.sw, '|' ORDER BY s.i) AS bk
                FROM sig s CROSS JOIN g gg
                GROUP BY s.doc_id, gg.bands, gg.rpb, s.i // gg.rpb),
              cand AS MATERIALIZED (
                SELECT DISTINCT x.bands, x.rpb,
                       x.doc_id AS da, y.doc_id AS db
                FROM bnd x JOIN bnd y
                  ON y.bands = x.bands AND y.b = x.b AND y.bk = x.bk
                     AND x.doc_id < y.doc_id),
              counts AS (
                SELECT gg.bands, gg.rpb, count(c.da) AS n_cand,
                       count(CASE WHEN t.da IS NOT NULL THEN 1 END)
                         AS n_hit
                FROM g gg
                LEFT JOIN cand c ON c.bands = gg.bands
                LEFT JOIN truth t ON t.da = c.da AND t.db = c.db
                GROUP BY gg.bands, gg.rpb)
         SELECT CAST(bands AS INTEGER) AS bands,
                CAST(rpb AS INTEGER) AS rows_per_band,
                CAST(n_cand AS BIGINT) AS n_cand,
                CAST((SELECT n_truth FROM tc) AS BIGINT) AS n_truth,
                CAST(n_hit AS BIGINT) AS n_hit,
                CASE WHEN (SELECT n_truth FROM tc) = 0 THEN NULL
                     ELSE CAST(floor(CAST(n_hit AS DOUBLE)
                                     / (SELECT n_truth FROM tc)
                                     * 10000) AS DOUBLE) / 10000
                END AS recall4
         FROM counts ORDER BY bands DESC""",
    "dedup_token_sort" ->
      """WITH k AS (SELECT lang,
                           md5(array_to_string(
                             list_sort(string_split(text, ' ')), ' '))
                             AS bag_key
                    FROM documents)
         SELECT lang, count(*) AS n_docs,
                count(DISTINCT bag_key) AS n_bags,
                count(*) - count(DISTINCT bag_key) AS n_dup_docs
         FROM k GROUP BY lang ORDER BY lang""",
    "dedup_url_canonical" ->
      """WITH u AS (SELECT doc_id,
                'https://WWW.Example' || (doc_id % 7) || '.COM/Path'
                  || (doc_id % 50) || '/?utm_source=feed&ref=' || doc_id
                  AS url
              FROM documents),
              c AS (SELECT doc_id,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                  lower(split_part(url, '/', 1)) || '//'
                    || lower(split_part(url, '/', 3))
                    || substr(url, length(split_part(url, '/', 1))
                              + length(split_part(url, '/', 3)) + 3),
                  '&(utm_[a-z]+|ref)=[^&]*', '', 'g'),
                  '\?(utm_[a-z]+|ref)=[^&]*&', '?'),
                  '\?(utm_[a-z]+|ref)=[^&]*$', ''),
                  '[/?]+$', '') AS canon
              FROM u)
         SELECT canon, count(*) AS n_dups, min(doc_id) AS keep_doc
         FROM c GROUP BY canon ORDER BY canon""",
    "dedup_minhash_estimate_quality" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 5 = 0),
              shing AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
                        FROM tok WHERE len(t) >= 3),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              mh AS (SELECT doc_id, i,
                            min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                     FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
              cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                       FROM mh a JOIN mh b
                         ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
              agree AS (SELECT c.da, c.db,
                               count(CASE WHEN x.h = y.h THEN 1 END)
                                 AS n_agree
                        FROM cand c
                        JOIN mh x ON x.doc_id = c.da
                        JOIN mh y ON y.doc_id = c.db AND y.i = x.i
                        GROUP BY c.da, c.db),
              sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
              inter AS (SELECT c.da, c.db, count(*) AS n
                        FROM cand c
                        JOIN shing sa ON sa.doc_id = c.da
                        JOIN shing sb ON sb.doc_id = c.db AND sb.sh = sa.sh
                        GROUP BY c.da, c.db),
              ex AS (SELECT c.da, c.db,
                            CAST(coalesce(i.n, 0) AS DOUBLE)
                              / (x.n + y.n - coalesce(i.n, 0)) AS jac
                     FROM cand c
                     LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
                     JOIN sizes x ON x.doc_id = c.da
                     JOIN sizes y ON y.doc_id = c.db)
         SELECT ex.da AS a, ex.db AS b, ag.n_agree,
                CAST(ag.n_agree AS DOUBLE) / 8 AS est_jac,
                CAST(floor(ex.jac * 10000) AS DOUBLE) / 10000 AS jac4,
                CAST(floor(abs(ag.n_agree / 8.0 - ex.jac) * 10000)
                     AS DOUBLE) / 10000 AS abs_err
         FROM ex JOIN agree ag ON ag.da = ex.da AND ag.db = ex.db
         ORDER BY a, b""",
    "dedup_minhash_lsh" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 5 = 0),
              shing AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
                        FROM tok WHERE len(t) >= 3),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              mh AS (SELECT doc_id, i,
                            min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                     FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
              cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                       FROM mh a JOIN mh b
                         ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
              inter AS (SELECT c.da, c.db, count(*) AS n
                        FROM cand c
                        JOIN shing sa ON sa.doc_id = c.da
                        JOIN shing sb ON sb.doc_id = c.db AND sb.sh = sa.sh
                        GROUP BY c.da, c.db)
         SELECT c.da AS a, c.db AS b,
                round(CAST(coalesce(i.n, 0) AS DOUBLE)
                      / (x.n + y.n - coalesce(i.n, 0)), 4) AS jac
         FROM cand c
         LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
         JOIN sizes x ON x.doc_id = c.da
         JOIN sizes y ON y.doc_id = c.db
         ORDER BY jac DESC, a, b LIMIT 20""",
    "dedup_bbit_minhash" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 5 = 0),
              shing AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
                        FROM tok WHERE len(t) >= 3),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              mh AS (SELECT doc_id, i,
                            min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                     FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
              bits AS (SELECT doc_id, i,
                              (strpos('0123456789abcdef', substr(h, 32, 1))
                               - 1) % 2 AS bit
                       FROM mh),
              cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                       FROM mh a JOIN mh b
                         ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
              inter AS (SELECT c.da, c.db, count(*) AS n
                        FROM cand c
                        JOIN shing sa ON sa.doc_id = c.da
                        JOIN shing sb ON sb.doc_id = c.db AND sb.sh = sa.sh
                        GROUP BY c.da, c.db),
              mb AS (SELECT c.da, c.db,
                            CAST(count(*) FILTER (WHERE p.bit = q.bit)
                                 AS INT) AS n_bits_match
                     FROM cand c
                     JOIN bits p ON p.doc_id = c.da
                     JOIN bits q ON q.doc_id = c.db AND q.i = p.i
                     GROUP BY c.da, c.db),
              ex AS (SELECT c.da, c.db,
                            floor(CAST(coalesce(i.n, 0) AS DOUBLE)
                                  / (x.n + y.n - coalesce(i.n, 0))
                                  * 10000) / 10000 AS jac4
                     FROM cand c
                     LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
                     JOIN sizes x ON x.doc_id = c.da
                     JOIN sizes y ON y.doc_id = c.db)
         SELECT ex.da AS a, ex.db AS b, jac4, n_bits_match,
                greatest(0.0, CAST(n_bits_match AS DOUBLE) * 2.0 / 8.0
                              - 1.0) AS est_bbit,
                floor(abs(greatest(0.0,
                        CAST(n_bits_match AS DOUBLE) * 2.0 / 8.0 - 1.0)
                      - jac4) * 10000) / 10000 AS err4
         FROM ex JOIN mb ON mb.da = ex.da AND mb.db = ex.db
         ORDER BY a, b""",
    "dedup_minhash_containment" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 5 = 0),
              shing AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
                        FROM tok WHERE len(t) >= 3),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              mh AS (SELECT doc_id, i,
                            min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                     FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
              cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                       FROM mh a JOIN mh b
                         ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
              sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
              inter AS (SELECT c.da, c.db, count(*) AS n
                        FROM cand c
                        JOIN shing sa ON sa.doc_id = c.da
                        JOIN shing sb ON sb.doc_id = c.db AND sb.sh = sa.sh
                        GROUP BY c.da, c.db)
         SELECT c.da AS a, c.db AS b,
                CAST(floor(CAST(coalesce(i.n, 0) AS DOUBLE)
                           / least(x.n, y.n) * 10000) AS DOUBLE) / 10000
                  AS cont,
                round(CAST(coalesce(i.n, 0) AS DOUBLE)
                      / (x.n + y.n - coalesce(i.n, 0)), 4) AS jac
         FROM cand c
         LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
         JOIN sizes x ON x.doc_id = c.da
         JOIN sizes y ON y.doc_id = c.db
         ORDER BY cont DESC, a, b LIMIT 20""",
    "pipeline_dedup_e2e" ->
      """WITH RECURSIVE
           tok AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM documents WHERE doc_id % 5 = 0),
           shing AS (SELECT DISTINCT doc_id,
                       unnest(list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
                     FROM tok WHERE len(t) >= 3),
           seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
           mh AS (SELECT doc_id, i,
                         min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                  FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
           cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                    FROM mh a JOIN mh b
                      ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id),
           sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY doc_id),
           inter AS (SELECT c.da, c.db, count(*) AS n
                     FROM cand c
                     JOIN shing sa ON sa.doc_id = c.da
                     JOIN shing sb ON sb.doc_id = c.db AND sb.sh = sa.sh
                     GROUP BY c.da, c.db),
           ver AS (SELECT c.da AS a, c.db AS b
                   FROM cand c
                   LEFT JOIN inter i ON i.da = c.da AND i.db = c.db
                   JOIN sizes x ON x.doc_id = c.da
                   JOIN sizes y ON y.doc_id = c.db
                   WHERE CAST(coalesce(i.n, 0) AS DOUBLE)
                         / (x.n + y.n - coalesce(i.n, 0)) >= 0.5),
           ed AS (SELECT a AS s, b AS t FROM ver
                  UNION ALL SELECT b, a FROM ver),
           verts AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
           reach AS (
             SELECT doc_id AS node, doc_id AS lab FROM verts
             UNION
             SELECT ed.t, r.lab FROM reach r JOIN ed ON ed.s = r.node),
           comp AS (SELECT node, min(lab) AS lab FROM reach GROUP BY node)
         SELECT d.lang, count(*) AS n_in,
                count(*) FILTER (c.node = c.lab) AS n_kept
         FROM documents d JOIN comp c ON c.node = d.doc_id
         GROUP BY d.lang ORDER BY d.lang""",
    "dedup_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS ws
                    FROM documents WHERE doc_id % 25 = 0),
              p AS (SELECT a.doc_id AS a, b.doc_id AS b,
                           len(list_filter(a.ws, x -> list_contains(b.ws, x))) AS ni,
                           len(a.ws) + len(b.ws) AS tot
                    FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT a, b, round(CAST(ni AS DOUBLE) / (tot - ni), 4) AS jac
         FROM p ORDER BY jac DESC, a, b LIMIT 10""",
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id, md5(token) AS h
                    FROM (SELECT doc_id,
                                 unnest(string_split(text, ' ')) AS token
                          FROM documents WHERE doc_id % 25 = 0)),
              bts AS (SELECT doc_id, j,
                             CASE WHEN ((strpos('0123456789abcdef',
                                         substr(h, (j//4)+1, 1)) - 1)
                                        >> (3 - (j%4))) & 1 = 1
                                  THEN 1 ELSE -1 END AS pm
                      FROM t, (SELECT unnest(range(0, 64)) AS j) js),
              sg AS (SELECT doc_id, j, sum(pm) AS s
                     FROM bts GROUP BY doc_id, j),
              sh AS (SELECT doc_id,
                            string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END,
                                       '' ORDER BY j) AS simhash
                     FROM sg GROUP BY doc_id),
              bd AS (SELECT doc_id, simhash, bb,
                            substr(simhash, bb*16+1, 16) AS bval
                     FROM sh, (SELECT unnest(range(0, 4)) AS bb) bs),
              cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
                              x.simhash AS sa, y.simhash AS sb
                       FROM bd x JOIN bd y ON x.bb = y.bb AND x.bval = y.bval
                                          AND x.doc_id < y.doc_id)
         SELECT da AS a, db AS b,
                CAST(list_aggregate(list_transform(range(1, 65),
                       i -> CASE WHEN substr(sa, i, 1) <> substr(sb, i, 1)
                                 THEN 1 ELSE 0 END), 'sum') AS INTEGER)
                  AS hamming
         FROM cand ORDER BY hamming, a, b LIMIT 10""",
    "dedup_embedding_neardup" ->
      s"""WITH ${MirroredLsh.candidateSqlCtes("vec_id % 20 = 0")},
              n AS (SELECT vec_id, v,
                           sqrt(list_aggregate(list_transform(v, x -> x * x),
                                               'sum')) AS nrm
                    FROM e)
         SELECT cand.a, cand.b,
                round(list_aggregate(list_transform(range(1, len(x.v) + 1),
                        i -> x.v[i] * y.v[i]), 'sum')
                      / (x.nrm * y.nrm), 4) AS cos
         FROM cand JOIN n x ON x.vec_id = cand.a
                   JOIN n y ON y.vec_id = cand.b
         ORDER BY cos DESC, a, b LIMIT 10""",
    "dedup_lsh_band_eval" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents WHERE doc_id % 5 = 0),
              shing AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(range(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                            AS sh
                        FROM tok WHERE len(t) >= 3),
              seeds AS (SELECT unnest(generate_series(0, 7)) AS i),
              mh AS (SELECT doc_id, i,
                            min(md5(CAST(i AS VARCHAR) || ':' || sh)) AS h
                     FROM shing CROSS JOIN seeds GROUP BY doc_id, i),
              wide AS (SELECT doc_id, list(h ORDER BY i) AS hs
                       FROM mh GROUP BY doc_id),
              sizes AS (SELECT doc_id, count(*) AS n
                        FROM shing GROUP BY doc_id),
              inter AS (SELECT sa.doc_id AS da, sb.doc_id AS db,
                               count(*) AS ni
                        FROM shing sa JOIN shing sb
                          ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
                        GROUP BY sa.doc_id, sb.doc_id),
              truth AS (SELECT i.da, i.db FROM inter i
                        JOIN sizes x ON x.doc_id = i.da
                        JOIN sizes y ON y.doc_id = i.db
                        WHERE CAST(i.ni AS DOUBLE)
                                / (x.n + y.n - i.ni) >= 0.5),
              nt AS (SELECT count(*) AS n_truth FROM truth),
              geo AS (SELECT * FROM (VALUES (8, 1), (4, 2), (2, 4))
                        g(bands, rpb)),
              bandh AS (SELECT w.doc_id, g.bands, g.rpb, bb.b,
                               md5(array_to_string(
                                 w.hs[bb.b*g.rpb + 1 : bb.b*g.rpb + g.rpb],
                                 '|')) AS bh
                        FROM wide w, geo g,
                          LATERAL (SELECT unnest(range(0, g.bands)) AS b) bb),
              cand AS (SELECT DISTINCT x.bands, x.rpb,
                              x.doc_id AS da, y.doc_id AS db
                       FROM bandh x JOIN bandh y
                         ON x.bands = y.bands AND x.rpb = y.rpb
                           AND x.b = y.b AND x.bh = y.bh
                           AND x.doc_id < y.doc_id),
              counts AS (SELECT c.bands, c.rpb, count(*) AS n_cand,
                                count(*) FILTER (WHERE t.da IS NOT NULL)
                                  AS n_hit
                         FROM cand c LEFT JOIN truth t
                           ON t.da = c.da AND t.db = c.db
                         GROUP BY c.bands, c.rpb)
         SELECT g.bands, g.rpb AS rows_per_band,
                coalesce(c.n_cand, 0) AS n_cand,
                nt.n_truth,
                coalesce(c.n_hit, 0) AS n_hit,
                CASE WHEN nt.n_truth = 0 THEN NULL
                     ELSE CAST(floor(CAST(coalesce(c.n_hit, 0) AS DOUBLE)
                            / nt.n_truth * 10000) AS DOUBLE) / 10000
                END AS recall4
         FROM geo g CROSS JOIN nt
         LEFT JOIN counts c ON c.bands = g.bands AND c.rpb = g.rpb
         ORDER BY g.bands DESC""",
  )
}
