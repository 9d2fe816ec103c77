package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._

/** Shuffle-volume audit (r13; board-wide with a regression gate since
  * r14) — measured evidence for the SURVEY's central 100 TB claim:
  * the near-dup/text/similarity keys shuffle HASHES AND SIGNATURES,
  * never document payloads. For each audited key the harness runs the
  * declared plan to completion under a stage-metrics listener and
  * reports bytes READ (parquet + block-manager re-reads) vs bytes
  * WRITTEN to shuffle, alongside the corpus' raw text volume — at any
  * scale, a key whose shuffle grows with the text (not the
  * fingerprints) would be unrunnable at 100 TB, and this is the
  * number that proves each one doesn't.
  *
  * r14 regression gate (VERDICT r13 #2): `tools/shuffle_expected.tsv`
  * holds a per-key shuffle-byte CEILING (measured clean-run bytes at
  * sf0.1 with ~2× headroom). When the file exists, every audited key
  * is checked against its ceiling and the run EXITS NON-ZERO on any
  * breach — a silent structural shuffle regression (the
  * text_substring_dedup_chars class, 43× corpus, invisible to
  * plan-shape greps for four rounds) now fails loudly. Regenerate
  * the table with `--write-expected` after an intentional plan
  * change (and commit the diff — the review IS the audit). A run over
  * a key subset rewrites only those keys' ceilings and keeps the rest
  * (see [[composeCeilings]]).
  *
  * Listener note: stage-completed events post asynchronously; the
  * counters are AtomicLongs and the harness quiesces by polling until
  * the per-key accumulators stop moving across THREE consecutive
  * 300 ms reads — still an audit of MB-scale magnitudes, not a
  * bit-exact meter (hence the 2× ceiling headroom).
  *
  * Usage:
  *   sbt "runMain graft.ShuffleAudit <sfDir> [ALL|key1,key2,…]
  *        [--write-expected]"
  */
object ShuffleAudit {
  private val expectedPath =
    java.nio.file.Paths.get("tools/shuffle_expected.tsv")

  /** The ceiling table a `--write-expected` run writes, or the reason
    * it must not write one. A full-board run replaces the committed
    * table. A key subset is merged over it, so every other key keeps
    * its ceiling; that is refused when the committed ceilings were
    * measured at another sf (`committedSf`), since the merged table
    * would mix two scales under one stamp. */
  private[graft] def composeCeilings(committed: Map[String, Long],
      committedSf: Option[String], sfTag: String,
      newCaps: Map[String, Long],
      fullBoard: Boolean): Either[String, Map[String, Long]] =
    if (fullBoard) Right(newCaps)
    else if (committed.nonEmpty && !committedSf.contains(sfTag))
      Left(s"the committed ceilings are stamped " +
        s"sf=${committedSf.getOrElse("<none>")}, this run is sf=$sfTag; " +
        "regenerate the full board at this sf instead")
    else Right(committed ++ newCaps)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val writeExpected = args.contains("--write-expected")
    val keySel = args.drop(1).filterNot(_.startsWith("--")).headOption
    val keys: Seq[String] = keySel match {
      case None | Some("ALL") => SparkEntry.queries.keys.toSeq.sorted
      case Some(csv) => csv.split(",").toSeq.map(_.trim)
    }
    // The ceilings are measured at a specific scale factor; arming
    // them against a run at any OTHER sf would breach falsely on a
    // larger fixture and pass vacuously on a smaller one (ADVICE r14).
    // The header stamps sf= (fixture dir basename) and the gate
    // disarms, loudly, on mismatch — mirroring BaselineAnchors'
    // env-match discipline.
    val sfTag = java.nio.file.Paths.get(sfDir).getFileName.toString
    val lines =
      if (java.nio.file.Files.exists(expectedPath))
        scala.io.Source.fromFile(expectedPath.toFile).getLines().toList
      else Nil
    val stamped = lines.headOption
      .flatMap("""sf=(\S+)""".r.findFirstMatchIn(_))
      .map(_.group(1))
    val committed: Map[String, Long] = lines
      .filterNot(l => l.startsWith("#") || l.isBlank)
      .map { l => val p = l.split("\t"); p(0) -> p(1).toLong }
      .toMap
    val expected: Map[String, Long] =
      if (stamped.exists(_ != sfTag)) {
        println(s"SHUFAUDIT gate DISARMED: ceilings stamped " +
          s"sf=${stamped.get}, this run is sf=$sfTag")
        Map.empty
      } else committed

    // 32 cores: the width tools/shuffle_expected.tsv was calibrated at
    val spark = Session.build(32)

    val inputB = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufWB = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new SparkListener {
      override def onStageCompleted(
          sc: SparkListenerStageCompleted): Unit = {
        val tm = sc.stageInfo.taskMetrics
        if (tm != null) {
          inputB.addAndGet(tm.inputMetrics.bytesRead)
          shufWB.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val textBytes = Tables.documents(spark, sfDir)
      .agg(sum(length(col("text")))).collect()(0).getLong(0)
    val mb = 1024.0 * 1024.0
    println(f"corpus text bytes: ${textBytes / mb}%8.2f MB  ($sfDir)")

    // stable = three consecutive identical reads, so one quiet poll
    // window can't mask a straggler event between two moving reads
    def quiesce(): Unit = {
      var stable = 0
      var prev = (inputB.get(), shufWB.get())
      while (stable < 3) {
        Thread.sleep(300)
        val cur = (inputB.get(), shufWB.get())
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
    }
    // warm-up (session init costs would pollute the first key)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    quiesce()

    val measured = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val breaches = scala.collection.mutable.ArrayBuffer.empty[String]
    val errors = scala.collection.mutable.ArrayBuffer.empty[String]
    for (k <- keys) {
      inputB.set(0L); shufWB.set(0L)
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(k)(spark, sfDir).foreach(_ => ())
        quiesce()
        val sec = (System.nanoTime() - t0) / 1e9
        val sw = shufWB.get()
        measured(k) = sw
        val gate = expected.get(k) match {
          case Some(cap) if sw > cap =>
            breaches += k
            f"  BREACH cap=${cap / mb}%8.2f MB"
          case Some(_) => "  ok"
          case None => ""
        }
        println(f"SHUFAUDIT $k%-34s read=${inputB.get() / mb}%8.2f MB  " +
          f"shufW=${sw / mb}%8.2f MB  shuf/text=${
            sw.toDouble / textBytes}%6.3f  time=$sec%5.1fs$gate")
      } catch {
        case e: Throwable =>
          errors += k
          println(s"SHUFAUDIT $k ERROR ${e.getMessage.take(150)}")
      }
    }
    if (writeExpected) {
      if (errors.nonEmpty) {
        // A key that errored has no measurement; regenerating from
        // `measured` alone would silently DROP it from the table and
        // leave it permanently ungated (ADVICE r14). Refuse — fix the
        // error (or run the key subset) and regenerate clean.
        println(s"REFUSING --write-expected: ${errors.size} key(s) " +
          s"errored and would be dropped from the ceiling table: " +
          errors.mkString(","))
      } else {
        // ceiling = 2× measured, floored at 1 MB (tiny keys jitter by
        // compression/AQE layout, never by structure)
        val newCaps = measured.map { case (k, v) =>
          k -> math.max(v * 2, 1L << 20) }.toMap
        // Ceiling-delta guard (r16, VERDICT r15 #7): "2× whatever the
        // last regeneration measured" is a ratchet that can absorb
        // slow structural creep — every raise >1.5× over the
        // COMMITTED ceiling is printed so the regeneration diff review
        // sees exactly which keys moved and by how much (the reason
        // string belongs in the commit that lands the new table).
        val raised = newCaps.filter { case (k, nv) =>
          expected.get(k).exists(old => nv > old * 1.5) }
        raised.foreach { case (k, nv) =>
          val old = expected(k)
          println(f"CEILING-RAISE $k%-34s ${old / mb}%8.2f MB -> " +
            f"${nv / mb}%8.2f MB (${nv.toDouble / old}%4.2fx) — " +
            "justify in the regeneration commit")
        }
        if (raised.nonEmpty)
          println(s"CEILING-RAISE SUMMARY: ${raised.size} key(s) " +
            "raised >1.5x over the committed table")
        composeCeilings(committed, stamped, sfTag, newCaps,
            fullBoard = keys.toSet == SparkEntry.queries.keySet) match {
          case Left(why) => println(s"REFUSING --write-expected: $why")
          case Right(table) =>
            val text = s"# sf=$sfTag key\tmax_shuffle_bytes (2x clean-run " +
              "measured; regenerate with --write-expected)\n" +
              table.toSeq.sorted.map { case (k, v) => s"$k\t$v" }
                .mkString("\n") + "\n"
            java.nio.file.Files.writeString(expectedPath, text)
            println(s"wrote ${table.size} ceilings (${measured.size} " +
              s"measured) to $expectedPath (sf=$sfTag)")
        }
      }
    }
    println(s"SHUFAUDIT SUMMARY keys=${measured.size} " +
      s"breaches=${breaches.size} errors=${errors.size}" +
      (if (breaches.nonEmpty) s" BREACHED=${breaches.mkString(",")}"
       else ""))
    spark.stop()
    if (breaches.nonEmpty || errors.nonEmpty) sys.exit(1)
  }
}
