package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-up smoke: replicate lineitem K× (default 16 → ~9.6M rows from
  * sf0.1) and time the heavy operator SHAPES (scan-agg, shuffle join,
  * window top-k, exact dedup, global top-k) against the same shapes at
  * 1×. Near-linear growth (≈K× work on 32 cores) is the pass signal;
  * superlinear growth flags a shape that would not survive a real
  * scale-up. Results recorded in PLANS.md.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [K]
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 16
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    // warm-up
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def li1 = Tables.lineitem(spark, sfDir)
    def liK = (1 to k).map(i => li1.withColumn("rep", lit(i)))
      .reduce(_ unionByName _)
    val orders = Tables.orders(spark, sfDir)

    // min-of-2: late shapes in a long smoke session otherwise pay GC /
    // block-manager pressure accumulated by earlier shapes — r8's
    // spatial_grid_knn read 10-14× inside the session but 2.7 s cold /
    // 1.0 s warm standalone (a BroadcastHashJoin plan, ~3× at ×16).
    // The envelope metric is the SHAPE's asymptotic cost, so take the
    // warm minimum; single-run history (≤ r8) reads ~1 run hotter.
    def time(label: String)(body: => Long): (String, Double, Long) = {
      val runs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val rows = body
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (label, runs.map(_._1).min, runs.head._2)
    }

    def shapes(tag: String, li: => org.apache.spark.sql.DataFrame) = Seq(
      time(s"$tag/agg_q1") {
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double"), 4), count(lit(1))).count()
      },
      time(s"$tag/join_shuffle") {
        li.join(orders.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").count().count()
      },
      time(s"$tag/window_topk") {
        val w = Window.partitionBy("l_orderkey")
          .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
        li.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .groupBy("l_returnflag").count().count()
      },
      time(s"$tag/dedup_exact") {
        li.groupBy("l_orderkey", "l_linenumber", "l_partkey")
          .agg(count(lit(1)).as("m")).groupBy("m").count().count()
      },
      time(s"$tag/global_topk") {
        li.select("l_orderkey", "l_extendedprice")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"))
          .limit(10).count()
      },
      // MERGE upsert shape (stage_merge_upsert): update batch = 1% of
      // rows → anti-join + union + fingerprint agg; the anti-join side
      // must stay broadcast (batch ≪ base) so cost tracks the base scan
      time(s"$tag/merge_upsert") {
        val base = li.select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"))
        val upd = base.filter(col("l_orderkey") % 100 === 0)
          .withColumn("l_extendedprice", col("l_extendedprice") + 1)
        upd.unionByName(
            base.join(upd.select("l_orderkey", "l_linenumber"),
              Seq("l_orderkey", "l_linenumber"), "left_anti"))
          .groupBy(col("l_orderkey") % 7).count().count()
      },
      // distributed global cumulative sum (ScaleRank.withGlobalCumsum,
      // the sample_pps_systematic spine): cost must track the range
      // exchange + local window, never a single-reducer sort
      time(s"$tag/global_cumsum") {
        graft.operators.ScaleRank.withGlobalCumsum(
            li.select(col("l_orderkey"), col("l_linenumber"),
              (col("l_quantity") * 100).cast("long").as("q")),
            Seq(col("l_orderkey"), col("l_linenumber")), col("q"))
          .agg(max(col("csum"))).count()
      },
      // ScaleRank global ordinal (r14 — the cume_dist/rfm/lorenz/
      // session_stats retrofit class): range-partitioned two-pass
      // global rank over the ROW grain + broadcast count + exact
      // integer NTILE histogram; cost must track the range exchange,
      // never a single-partition window (the WindowExec warning class
      // this shape exists to keep dead)
      time(s"$tag/scalerank_ntile") {
        val ranked = graft.operators.ScaleRank.withGlobalRank(
          li.select(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")),
          Seq(col("l_extendedprice"), col("l_orderkey"),
            col("l_linenumber")))
        val n = ranked.agg(count(lit(1)).as("gn"))
        ranked.crossJoin(broadcast(n))
          .select(expr("CAST((rk - 1) * 5 DIV gn AS INT) + 1").as("b"))
          .groupBy("b").count().count()
      },
      // interval join via the (key, time-cell) equi rewrite — the
      // join_interval_bucketed shape with lineitem's orderkey as the
      // entity and linenumber-scaled synthetic micro-times; candidate
      // growth must stay ~linear in rows (cells bound pair fan-out)
      time(s"$tag/interval_bucketed") {
        val w = 1000L
        val ev = li.select(col("l_orderkey").as("k"),
          (col("l_partkey") * 7 % 100000).as("t"))
        val a = ev.withColumn("cell",
          explode(array(expr(s"t div $w"), expr(s"t div $w + 1"))))
        val b = ev.select(col("k").as("bk"), col("t").as("bt"))
          .withColumn("bcell", expr(s"bt div $w"))
        a.join(b, col("k") === col("bk") && col("cell") === col("bcell") &&
            col("bt") > col("t") && col("bt") <= col("t") + w)
          .groupBy(col("k") % 100).count().count()
      },
    )

    // round-6 shapes over the documents/embeddings fixtures: the
    // per-shard packing window and the codegen LSH signature
    // projection + bucket shuffle
    def docs1 = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    def docsK = (1 to k).map(i => docs1.withColumn("doc_id",
        col("doc_id") + lit(i.toLong * 1000000L)))
      .reduce(_ unionByName _)
    def emb1 = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    def embK = (1 to k).map(i => emb1.withColumn("vec_id",
        col("vec_id") + lit(i.toLong * 1000000L)))
      .reduce(_ unionByName _)
    graft.functions.GraftFunctions.register(spark)
    def shapes2(tag: String, docs: => org.apache.spark.sql.DataFrame,
        emb: => org.apache.spark.sql.DataFrame) = Seq(
      time(s"$tag/seq_pack") {
        val toks = docs.select(col("doc_id"),
          pmod(col("doc_id"), lit(64)).as("shard"),
          size(split(col("text"), " ")).cast("long").as("n_tok"))
        val w = Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        toks.withColumn("cum", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("pack", expr("cum div 2048"))
          .groupBy("shard", "pack").count().count()
      },
      time(s"$tag/lsh_sig_bucket") {
        emb.select(col("vec_id"),
            posexplode(expr("lsh_sigs(embedding)")).as(Seq("t", "sig")))
          .groupBy("t", "sig").count().count()
      },
      // r9: the winnowing fingerprint stage of
      // text_substring_dedup_chars — per-position k-gram md5 (the
      // scan-side cost of char-grain dedup), window-min selection,
      // distinct, corpus-wide duplicate count on the hash. Replicated
      // docs keep IDENTICAL text, so x16 also stresses the hash
      // inverted index with 16× colliding fingerprints — the
      // worst-case (every doc duplicated) posture.
      time(s"$tag/winnow_fingerprint") {
        val grams = docs
          .select(col("doc_id"), col("text"),
            length(col("text")).as("len"))
          .filter(col("len") >= 40)
          .repartition(col("doc_id")) // r13: the winnow window rides
          // this document-grain exchange; grams never shuffle
          // (the ShuffleAudit fix — mirror the shipped plan)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, len - 39),
                 p -> named_struct('p', p,
                                   'h', md5(substring(text, p, 40))))"""
          )).as("g"))
          .select(col("doc_id"), col("g.p").as("p"), col("g.h").as("h"))
        val w = Window.partitionBy("doc_id").orderBy("p")
          .rowsBetween(0, 19)
        grams.withColumn("m", min(struct(col("h"), col("p"))).over(w))
          .select(col("doc_id"), col("m.h").as("h"))
          .distinct()
          .withColumn("nd", count(lit(1)).over(Window.partitionBy("h")))
          .filter(col("nd") > 1)
          .groupBy("doc_id").count().count()
      },
    )

    // round-7 shapes: the triangle wedge join over the co-supply graph
    // (replicas get disjoint key spaces → disjoint subgraphs, the way
    // real graph data grows) and the spatial grid kNN candidate join
    // (replicas get disjoint cell spaces — growth covers more area,
    // it does not densify one cell; a DENSIFYING 16× would be ×256
    // candidates and needs a finer grid, which is the documented knob)
    def cust1 = Tables.customer(spark, sfDir).select(col("c_custkey"))
    def shapes3(tag: String, mult: Int) = Seq(
      time(s"$tag/triangle_wedge") {
        val ps = (1 to mult).map(i =>
          Tables.lineitem(spark, sfDir)
            .filter(col("l_partkey") % 50 === 0)
            .select((col("l_partkey") + lit(i.toLong * 10000000L)).as("pk"),
              (col("l_suppkey") + lit(i.toLong * 10000000L)).as("sk")))
          .reduce(_ unionByName _).distinct()
        val e = ps.as("a").join(ps.as("b"),
            col("a.sk") === col("b.sk") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        e.as("e1").join(e.as("e2"), col("e1.v") === col("e2.u"))
          .join(e.as("e3"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .count()
      },
      time(s"$tag/spatial_grid_knn") {
        val pts = (1 to mult).map(i =>
          cust1.select((col("c_custkey") + lit(i.toLong * 10000000L)).as("pid"),
            ((col("c_custkey") * 7919 % 3600) / lit(10.0) - 180.0).as("lon"),
            ((col("c_custkey") * 104729 % 1700) / lit(10.0) - 85.0).as("lat"),
            lit(i * 1000).as("space")))
          .reduce(_ unionByName _)
          .withColumn("cx",
            (floor(col("lon") / 10) + col("space")).cast("int"))
          .withColumn("cy", floor(col("lat") / 10).cast("int"))
        val q = pts.filter(col("pid") % 500 === 0)
          .select(col("pid").as("qid"), col("lon").as("qlon"),
            col("lat").as("qlat"), col("cx").as("qcx"), col("cy").as("qcy"))
          .crossJoin(broadcast(
            spark.range(-1, 2).select(col("id").cast("int").as("dx"))
              .crossJoin(spark.range(-1, 2)
                .select(col("id").cast("int").as("dy")))))
        q.join(pts,
            col("qcx") + col("dx") === col("cx")
              && col("qcy") + col("dy") === col("cy")
              && col("qid") =!= col("pid"))
          .filter(sqrt((col("lon") - col("qlon")) * (col("lon") - col("qlon"))
            + (col("lat") - col("qlat")) * (col("lat") - col("qlat"))) < 5.0)
          .count()
      },
    )

    // round-8 shapes: the SemDeDup within-cell pair stage and the PQ
    // ADC scoring join. Cells get replica-disjoint id spaces — the
    // production posture where k scales with the corpus to hold cell
    // population at a fixed budget; a DENSIFYING 16× (same 16 cells,
    // 16× members) would be ×256 pairs, and the documented knob is
    // more cells, exactly like the spatial grid note above.
    def shapes4(tag: String, emb: => org.apache.spark.sql.DataFrame) = Seq(
      time(s"$tag/semantic_cell_pairs") {
        val cents = emb1.orderBy("vec_id").limit(16)
          .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .collect().map(_.getSeq[Double](0)).toSeq
        val centArr = array(cents.map(cv => array(cv.map(lit): _*)): _*)
        val assigned = emb
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("cents", centArr)
          .withColumn("cid", element_at(array_sort(expr(
            """transform(sequence(0, 15), i -> named_struct(
                 'dist', aggregate(zip_with(v, cents[i],
                           (x, y) -> (x - y) * (x - y)),
                         0D, (acc, t) -> acc + t),
                 'cid', i))""")), 1).getField("cid")
            + expr("CAST(vec_id div 1000000 AS INT) * 16"))
          .select("vec_id", "v", "cid")
        assigned.as("x").join(assigned.as("y"),
            col("x.cid") === col("y.cid") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(expr(
            "aggregate(zip_with(x.v, y.v, (a, b) -> a * b), 0D, (acc, t) -> acc + t)")
            .as("dot"))
          .agg(count(lit(1)), sum("dot")).count()
      },
      // ADC: |corpus|·M code rows joined to a broadcast |Q|·M·k
      // distance table, grouped to (qid, vec_id), top-10 window —
      // the scan/shuffle cost tracks the CODES (4 small ints/vector),
      // never the raw vectors; md5-bucket codes stand in for the
      // fitted codebook (identical join/agg shape)
      time(s"$tag/pq_adc_topk") {
        val codes = emb.select(col("vec_id"), posexplode(expr(
          "transform(sequence(0, 3), s -> abs(hash(vec_id, s)) % 8)"))
          .as(Seq("sub", "code")))
        val qd = spark.range(5).select(col("id").as("qid"))
          .crossJoin(spark.range(4).select(col("id").as("qsub")))
          .crossJoin(spark.range(8).select(col("id").as("qcode")))
          .withColumn("dst", expr("abs(hash(qid, qsub, qcode)) / 2e9"))
        val w8 = Window.partitionBy("qid")
          .orderBy(col("adc"), col("vec_id"))
        codes.join(broadcast(qd),
            col("sub") === col("qsub") && col("code") === col("qcode"))
          .groupBy("qid", "vec_id").agg(sum("dst").as("adc"))
          .withColumn("rn", row_number().over(w8))
          .filter(col("rn") <= 10).count()
      },
    )

    // round-9 shapes: the inverted-index retrieval join of
    // pipeline_chunk_embed_e2e (corpus candidates grow K×, the probe
    // batch stays FIXED — the production retrieval posture), one
    // k-core peel round (degree agg + two semi-joins; replica-
    // disjoint key spaces like triangle_wedge — graphs grow, they
    // don't densify), and the Theil–Sen pairwise-slope self-join
    // (replicas = disjoint SERIES: series count grows, each stays
    // bounded, so pairs grow linearly — the documented contract).
    def shapes5(tag: String, docs: => org.apache.spark.sql.DataFrame,
        mult: Int) = Seq(
      time(s"$tag/postings_topk") {
        // mirrors pipeline_chunk_embed_e2e's pruned retrieval: D=256
        // hash dims + the 30%-df stop-dim cut. The UNPRUNED D=16
        // variant measured 9.4 s × 6.6 at K=16 here — every probe
        // paired with every candidate, the postings join degenerated
        // to the dense cross join; the df cut is what makes the
        // inverted index an index.
        def embOf(df: org.apache.spark.sql.DataFrame) = df
          .select(col("doc_id"), col("text"),
            length(col("text")).as("len"))
          .select(col("doc_id"), col("text"), explode(expr(
            """transform(sequence(0L, (greatest(len - 120, 0) + 79) div 80),
                 i -> cast(i * 80 + 1 as int))""")).as("p"))
          .select(col("doc_id"),
            concat(col("doc_id"), lit("#"), col("p")).as("cid"),
            explode(split(expr("substring(text, p, 120)"), " ")).as("w"))
          .select(col("doc_id"), col("cid"),
            expr("CAST(conv(substring(md5(w), 1, 2), 16, 10) AS BIGINT)")
              .as("dim"))
          .groupBy("doc_id", "cid", "dim").agg(count(lit(1)).as("c"))
        val probes = embOf(docs1.filter(col("doc_id") % 97 === 0))
        val cands = embOf(docs)
        val nc = cands.agg(countDistinct(col("cid")).as("nc"))
        val keep = cands.groupBy("dim").agg(count(lit(1)).as("df"))
          .crossJoin(broadcast(nc))
          .filter(col("df") * 10 <= col("nc") * 3)
          .select("dim")
        cands.join(broadcast(keep), Seq("dim")).as("c")
          .join(broadcast(probes.join(broadcast(keep), Seq("dim")).as("p")),
            col("p.dim") === col("c.dim") &&
              col("p.doc_id") =!= col("c.doc_id"))
          .groupBy(col("p.cid"), col("c.cid"))
          .agg(sum(col("p.c") * col("c.c")).as("dot"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("p.cid").orderBy(col("dot").desc, col("c.cid"))))
          .filter(col("rn") <= 3).count()
      },
      time(s"$tag/kcore_round") {
        val ps = (1 to mult).map(i =>
          Tables.lineitem(spark, sfDir)
            .filter(col("l_partkey") % 10 === 0)
            .select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("ok"),
              (col("l_partkey") + lit(i.toLong * 10000000L)).as("pk")))
          .reduce(_ unionByName _).distinct()
        val e = ps.as("a").join(ps.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        val deg = e.select(col("u").as("n"))
          .union(e.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= 8).select("n")
        e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi")
          .count()
      },
      time(s"$tag/pairwise_slopes") {
        val daily = (1 to mult).map(i =>
          Tables.events(spark, sfDir)
            .select(concat(col("event_type"), lit("_" + i)).as("k"),
              date_trunc("day", col("ts")).as("day"),
              col("value")))
          .reduce(_ unionByName _)
          .groupBy("k", "day")
          .agg(floor(sum(col("value").cast("decimal(18,2)")).cast("double")
            * 100).cast("long").as("v"))
          .withColumn("x", datediff(col("day").cast("date"),
            lit("2024-01-01").cast("date")).cast("long"))
        daily.as("a").join(daily.as("b"),
            col("a.k") === col("b.k") && col("a.x") < col("b.x"))
          .select(col("a.k").as("k"),
            ((col("b.v") - col("a.v")).cast("double")
              / (col("b.x") - col("a.x")).cast("double")).as("m"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("k").orderBy("m")))
          .groupBy("k").agg(count(lit(1))).count()
      },
    )

    // round-12 shape: one NN-descent seed + top-M round of the
    // graph-ANN build (Similarity3) — the build's per-round cost
    // driver. Replicated corpora keep ~25-wide blocks in BOTH seed
    // families (id-range blocks are replica-disjoint; the hash-block
    // modulus scales with the count so hash blocks stay ~B wide), so
    // pair count and fold work grow ~K×, never quadratically.
    def shapes6(tag: String, emb: => org.apache.spark.sql.DataFrame) = Seq(
      time(s"$tag/graph_ann_descent") {
        val e = emb
        val cnt = e.agg(count(lit(1)).as("nv"))
        val hb = e.select(col("vec_id")).crossJoin(broadcast(cnt))
          .select(col("vec_id"),
            expr("CAST(vec_id div 25 AS BIGINT)").as("dblk"),
            expr("""CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 12),
                         16, 10) AS BIGINT) % ((nv + 24) div 25)""").as("hblk"))
        def pairs(kc: String) = hb.select(col("vec_id").as("a"), col(kc))
          .join(hb.select(col("vec_id").as("b"), col(kc)), Seq(kc))
          .filter(col("a") =!= col("b")).select("a", "b")
        val seed = pairs("dblk").union(pairs("hblk")).distinct()
        val w = Window.partitionBy("a")
          .orderBy(round(col("cos"), 4).desc, col("b"))
        seed
          .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")),
            Seq("a"))
          .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")),
            Seq("b"))
          .withColumn("cos", expr("cosine_sim(ea, eb)"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 14)
          .count()
      },
    )

    // round-13 shapes (VERDICT r12 #5) for the r12 families:
    //  - bpe_merge_round: ONE BPE training round (pair-explode over
    //    the word-freq synopsis → weighted count → 1-row argmax →
    //    broadcast merge rewrite). The K× driver is tokenization
    //    volume (the explode + first groupBy); the replicated docs
    //    keep identical text, so the word/pair tables stay
    //    Heaps-bounded while their weights grow — exactly the
    //    production posture where the corpus grows faster than the
    //    vocabulary, and the round's cost must track the SCAN, not
    //    the vocab.
    //  - betweenness_frontier: one σ-accumulating multi-source BFS
    //    frontier expansion (frontier ⋈ adjacency → per-(source,node)
    //    σ sum → anti-join visited). Replicas are disjoint subgraphs
    //    and sources are a fixed hash-sample of nodes, so source
    //    count grows with the graph — the sampled-betweenness
    //    posture; pair growth must stay ~K×.
    //  - pattern_kstep_carry: the 4 chained running-max window
    //    carries of the k-step matcher. Replicas get disjoint USER
    //    spaces (users grow, per-user history constant — events at
    //    100 TB grow by audience, not by per-user depth), so the one
    //    user_id shuffle + linear window pass must grow ~K×.
    def ev1 = Tables.events(spark, sfDir).select(col("user_id"),
      col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    def evK(mult: Int) = (1 to mult).map(i =>
      ev1.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000000L)))
      .reduce(_ unionByName _)
    def shapes7(tag: String, docs: => org.apache.spark.sql.DataFrame,
        mult: Int) = Seq(
      time(s"$tag/bpe_merge_round") {
        val words = docs.select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("f"))
          .filter(length(col("w")) >= 2)
        val sym = words.select(col("f"),
          trim(regexp_replace(col("w"), "(.)", "$1 ")).as("sy"))
        val pc = sym.select(col("f"), explode(expr(
          """transform(sequence(1, size(split(sy, ' ')) - 1), i ->
               concat(element_at(split(sy, ' '), i), ' ',
                      element_at(split(sy, ' '), i + 1)))""")).as("pair"))
          .groupBy("pair").agg(sum(col("f")).as("wt"))
        val m1 = pc.orderBy(col("wt").desc, col("pair")).limit(1)
          .select("pair")
        sym.crossJoin(broadcast(m1))
          .select(expr(
            """trim(replace(concat(' ', sy, ' '), concat(' ', pair, ' '),
                   concat(' ', replace(pair, ' ', ''), ' ')))""").as("sy"))
          .groupBy(length(col("sy")) % 16).count().count()
      },
      time(s"$tag/betweenness_frontier") {
        val ps = (1 to mult).map(i =>
          Tables.lineitem(spark, sfDir)
            .filter(col("l_partkey") % 10 === 0)
            .select((col("l_orderkey") + lit(i.toLong * 100000000L)).as("ok"),
              (col("l_partkey") + lit(i.toLong * 10000000L)).as("pk")))
          .reduce(_ unionByName _).distinct()
        val e = ps.as("a").join(ps.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        val adj = e.select(col("u").as("a"), col("v").as("b"))
          .unionByName(e.select(col("v").as("a"), col("u").as("b")))
          .localCheckpoint()
        val srcs = adj.select(col("a")).distinct()
          .filter(col("a") % 251 === 0).select(col("a").as("qsrc"))
        var layers = srcs.select(col("qsrc"), col("qsrc").as("node"),
          lit(1L).as("sigma")).localCheckpoint()
        var frontier = layers
        for (_ <- 1 to 2) {
          val next = frontier.join(adj, col("node") === col("a"))
            .groupBy(col("qsrc"), col("b"))
            .agg(sum(col("sigma")).as("sigma"))
            .withColumnRenamed("b", "node")
            .join(layers.select("qsrc", "node"), Seq("qsrc", "node"),
              "left_anti")
            .select("qsrc", "node", "sigma")
            .localCheckpoint()
          layers = layers.unionByName(next).localCheckpoint()
          frontier = next
        }
        layers.count()
      },
      time(s"$tag/pattern_kstep_carry") {
        val H = 3600L * 1000000
        val steps: Seq[(String, Option[Long])] = Seq(
          "signup" -> None, "view" -> Some(12 * H),
          "click" -> Some(8 * H), "purchase" -> Some(8 * H))
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val ev = if (mult == 1) ev1 else evK(mult)
        val staged = steps.zipWithIndex.foldLeft(ev) {
          case (df, ((t, dl), i)) =>
            val cond = dl match {
              case None => col("event_type") === t
              case Some(win) => col("event_type") === t &&
                col(s"st${i - 1}").isNotNull &&
                col("us") - col(s"st${i - 1}") <= win
            }
            df.withColumn(s"st$i", max(when(cond, col("us"))).over(w))
        }
        staged.agg(countDistinct(col("user_id")),
          steps.indices.map(i =>
            countDistinct(when(col(s"st$i").isNotNull, col("user_id")))
              .as(s"n$i")): _*).count()
      },
    )

    val r1 = shapes("x1", li1) ++ shapes2("x1", docs1, emb1) ++
      shapes3("x1", 1) ++ shapes4("x1", emb1) ++ shapes5("x1", docs1, 1) ++
      shapes6("x1", emb1) ++ shapes7("x1", docs1, 1)
    val rk = shapes(s"x$k", liK) ++ shapes2(s"x$k", docsK, embK) ++
      shapes3(s"x$k", k) ++ shapes4(s"x$k", embK) ++
      shapes5(s"x$k", docsK, k) ++ shapes6(s"x$k", embK) ++
      shapes7(s"x$k", docsK, k)

    (r1 ++ rk).foreach { case (l, s, n) =>
      println(f"$l%-18s $s%7.2f s  ($n rows)") }
    println("-- ratio (xK / x1), linear target ≈ K on equal parallelism --")
    r1.zip(rk).foreach { case ((l1, s1, _), (_, sk, _)) =>
      println(f"${l1.drop(3)}%-15s ${sk / s1}%5.1f× (K=$k)")
    }
    spark.stop()
  }
}
