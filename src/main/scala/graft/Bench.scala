package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.build(cpus.toInt)
    // Untimed warm-up: JVM/codegen/session initialization is fixed cost,
    // not operator cost — first timed query otherwise absorbs ~4-5 s.
    // Best-effort: a bad sfDir must still fall through to the timed
    // loop (which degrades per-query to -1) and emit the JSON line.
    // Hermetic: its temp directories and checkpoint blocks do not
    // outlive it.
    val warmDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
    def warmDir(prefix: String): String = {
      warmDirs += java.nio.file.Files.createTempDirectory(prefix)
      warmDirs.last.toString
    }
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect()
      Tables.lineitem(spark, sfDir).selectExpr("count(*)").collect()
      // warm the parquet WRITE path too (committer + write codegen +
      // output FS init, ~1.7 s): otherwise whichever write-key the map
      // iterates first absorbs it — one key reshuffle moved that cost
      // onto scan_partition_pruned (0.9 -> 2.5 s with identical code)
      val wtmp = warmDir("graft_bench_warm")
      spark.range(100L).selectExpr("id", "id % 3 AS p")
        .write.mode("overwrite").partitionBy("p").parquet(wtmp)
      spark.read.parquet(wtmp).count()
      // warm the STRUCTURED STREAMING machinery too (state-store
      // provider load, streaming-query planner, checkpoint FS init,
      // ~2 s): otherwise whichever streaming key the map iterates
      // first absorbs it — once, new keys re-hashed the order and
      // stream_dedup_within_watermark jumped 1.7 -> 3.7 s in the
      // driver run with identical code (isolation-cold reproduces
      // 3.6-4.3 s; warm, the key is ~1.5 s). A watermark + stateful
      // dedup over a 10-row file stream exercises that exact path.
      val stmp = warmDir("graft_bench_warm_stream")
      spark.range(10L).selectExpr("id", "timestamp_seconds(id) AS ts")
        .write.mode("overwrite").parquet(stmp)
      // the streaming keys' own scope (8 shuffle partitions, the
      // checkpoint filesystem), so the state-store instances and the
      // filesystem path this warms are the ones the real keys reuse
      streaming.Streaming.withStreamShuffle(spark) {
        val wq = spark.readStream.schema("id BIGINT, ts TIMESTAMP")
          .parquet(stmp)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("id")
          .groupBy("id").count()
          .writeStream.format("memory").queryName("graft_warm_stream")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        wq.awaitTermination()
        // the memory sink's rows live as long as its view (the
        // Streaming.drain pattern): drop it once the warm-up is done
        spark.catalog.dropTempView("graft_warm_stream")
        // second streaming init shape: the SYMMETRIC-HASH-JOIN state
        // store (stream-stream joins) loads a different provider path
        // than the agg/dedup store warmed above — one board run showed
        // stream_stream_left_outer at 8.8 s (idle anchor ~3 s) because
        // whichever stream-stream key ran first absorbed that init.
        val jq = spark.readStream.schema("id BIGINT, ts TIMESTAMP")
          .parquet(stmp).withWatermark("ts", "1 hour")
          .join(spark.readStream.schema("id BIGINT, ts TIMESTAMP")
              .parquet(stmp).toDF("jid", "jts")
              .withWatermark("jts", "1 hour"),
            org.apache.spark.sql.functions.expr(
              "id = jid AND jts BETWEEN ts AND ts + INTERVAL 1 HOUR"))
          .writeStream.format("memory").queryName("graft_warm_join")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        jq.awaitTermination()
        spark.catalog.dropTempView("graft_warm_join")
      }
      // unigram-fit shape: eager localCheckpoint of a token-count
      // synopsis + a broadcast scoring join — text_perplexity_buckets
      // ran 5.1× its anchor in a driver bench when it was the
      // first key to pay checkpoint-dir + broadcast-exchange init.
      // Runs the fit shape at FULL volume over the REAL documents
      // table: parquet footer, split/explode codegen, AND the JIT
      // tier-up of the explode+hashagg kernel (a limit(50) warm left
      // the first full-scale text key at ~4× anchor — the kernel ran
      // too few iterations to reach C2 before the timed run).
      val wtok = Tables.documents(spark, sfDir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .groupBy("w").count().localCheckpoint(true)
      Tables.documents(spark, sfDir).limit(50)
        .selectExpr("explode(split(text, ' ')) AS w")
        .join(org.apache.spark.sql.functions.broadcast(
          wtok.limit(100)), Seq("w"), "left")
        .selectExpr("sum(count)").collect()
      Ckpt.free(wtok)
      // events.parquet: every streaming key reads its footer
      // (Tables.footerSchema) and scans it
      Tables.events(spark, sfDir).selectExpr("count(*)").collect()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warm-up failed: ${e.toString.take(200)}")
    } finally warmDirs.foreach(sources.Staging.deleteTree)
    // SPARK_GRAFT_ONLY=key1,key2 benches a subset — isolation runs for
    // chasing per-key regressions without the 157-query wall time
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.filter { case (k, _) => ks(k) })
    // A failed key must be LOUD: a fixture-schema flip (events.ts
    // INT64-nanos → timestamp[us]) errored 65 keys instantly and the
    // old silent `catch => -1L` recorded them as ~0.06 s "speedups".
    // Errors are now collected and emitted in the JSON line.
    // An errored key contributes NO timing: time-to-error is not a
    // measurement, and summing it into `value` (or leaving it in
    // `queries`) lets downstream comparisons mistake a crash for a
    // speedup — the confusion that flip caused. Errored keys appear
    // ONLY in n_errors/error_keys.
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    def timeKey(name: String, fn: (SparkSession, String) => DataFrame,
                recordError: Boolean = true): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        if (recordError) errors += name
        System.err.println(s"[bench] $name failed: ${e.getMessage.take(200)}")
        None
      }
    }
    val firstPass = selected.flatMap { case (name, fn) =>
      timeKey(name, fn).map(name -> _)
    }
    // Drift gate: a driver bench once recorded a 1.55×-contended run
    // as the round's official number while a clean
    // same-tree anchor sat in BASELINE.md. Now the bench itself parses
    // the latest "## rNN per-query seconds" anchor table, RE-RUNS every
    // key over 2× its anchor and more than 0.4 s above it (a smaller
    // gap is JVM noise: a 0.05 → 0.12 s key reads 2.4× with no code
    // change), records min-of-2 (the standard noise-robust
    // estimator; a genuinely regressed key stays slow on
    // the warm re-run, a contention spike doesn't), and annotates each
    // flag in the JSON line so the recorded number is either
    // drift-clean or self-explaining. Anchor parse is best-effort: no
    // BASELINE.md (driver may run from a bare checkout) → skip.
    // Parse shared with RelationalCoreSpec via BaselineAnchors — env
    // filter documented there: anchors from a different machine shape
    // or fixture scale disarm the gate. Anchors from an older round
    // than the newest table still arm it, and say so on stderr.
    val anchors: Map[String, Double] =
      try BaselineAnchors.readText().flatMap { text =>
        BaselineAnchors.anchorsFor(text, cpus, sfDir).map {
          case (round, rows) =>
            BaselineAnchors.latestRound(text).filter(_ > round).foreach(n =>
              System.err.println(s"[bench] drift anchors come from the " +
                s"r$round table; the newest anchor table is r$n"))
            rows
        }
      }.getOrElse(Map.empty)
      catch { case e: Throwable =>
        System.err.println(s"[bench] anchor read failed, drift gate " +
          s"disarmed: ${e.toString.take(200)}")
        Map.empty
      }
    val flagged = firstPass.filter { case (k, v) =>
      anchors.get(k).exists(a => v > 2.0 * a && v - a > 0.4) }
    val reruns = flagged.flatMap { case (name, _) =>
      timeKey(name, selected(name), recordError = false).map(name -> _) }
    val results = firstPass.map { case (k, v) =>
      k -> math.min(v, reruns.getOrElse(k, v)) }
    // 3-decimal rounding via Double.toString (locale-independent '.')
    // keeps the line compact, and "value" goes LAST: the driver stores
    // only the TAIL of the output, so a long queries map must never
    // push the total off the front of the captured window.
    def r3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // "n_errors"/"error_keys" ride near the END so they survive the
    // driver's tail-only capture alongside "value".
    val errJson = "\"n_errors\":" + errors.size + ",\"error_keys\":[" +
      errors.take(20).map("\"" + _ + "\"").mkString(",") + "]"
    // per-flag annotation: {"key":{"anchor":a,"run1":x,"rerun":y}} —
    // capped at 20 (a fully contended box would flag half the board;
    // the cap keeps the tail-captured line bounded), count uncapped.
    val driftJson = "\"n_drift_flags\":" + flagged.size +
      ",\"drift_flags\":{" + flagged.toSeq.sortBy(-_._2).take(20)
        .map { case (k, v) =>
          "\"" + k + "\":{\"anchor\":" + r3(anchors(k)) +
            ",\"run1\":" + r3(v) + ",\"rerun\":" +
            reruns.get(k).map(r3).getOrElse("null") + "}" }
        .mkString(",") + "}"
    // Anchor-table completeness: the partial-run guard below caught
    // partial RUNS but not a partial anchor TABLE — two keys were
    // once committed after the "final records" commit with no
    // anchor row, so no drift flag could ever fire for them. When the
    // drift gate is armed (anchor table parsed and env-matched), a
    // full-board run whose anchor key set ≠ the registered board is
    // reported in the JSON and demoted from the BENCH_SELF.json board
    // record below.
    val anchorGaps: Seq[String] =
      if (anchors.isEmpty || only.isDefined) Seq.empty
      else {
        val board = SparkEntry.queries.keySet
        ((board -- anchors.keySet) ++ (anchors.keySet -- board))
          .toSeq.sorted
      }
    val gapJson = "\"n_anchor_gaps\":" + anchorGaps.size +
      ",\"anchor_gap_keys\":[" +
      anchorGaps.take(20).map("\"" + _ + "\"").mkString(",") + "]"
    val line = s"""{"metric":"total","unit":"sec","sf":"$sfDir","queries":$qs,"n_queries":${results.size},$driftJson,$gapJson,$errJson,"value":${r3(total)}}"""
    println(line)
    // the driver keeps only the TAIL of stdout and has twice recorded
    // "parsed": null after truncation ate the line — persist
    // the full JSON to a file too so the numbers survive regardless.
    // Anchored to SPARK_GRAFT_BENCH_OUT or the repo root (not cwd —
    // launched elsewhere the record would silently land in the wrong
    // directory), and failures are logged, not swallowed.
    // Record-hygiene guard (the fault recurred twice): a targeted subset run (SPARK_GRAFT_ONLY set) must
    // NEVER clobber the full-board BENCH_SELF.json record — it lands
    // in BENCH_TARGETED.json unless an explicit SPARK_GRAFT_BENCH_OUT
    // overrides. Belt-and-braces: even without SPARK_GRAFT_ONLY, a
    // run that timed fewer keys than the registered board (a crash
    // mid-loop, a filtered registry) is not a board record either.
    val isTargeted = only.isDefined ||
      results.size + errors.size < SparkEntry.queries.size ||
      anchorGaps.nonEmpty
    val selfName =
      if (isTargeted) "BENCH_TARGETED.json" else "BENCH_SELF.json"
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(Option(System.getProperty("user.dir"))
        .filter(d => java.nio.file.Files.exists(
          java.nio.file.Paths.get(d, "build.sbt")))
        .map(d => s"$d/$selfName"))
      .getOrElse(s"/root/repo/$selfName")
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outPath), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"Bench: failed to write $outPath: $e") }
    spark.stop()
  }
}
