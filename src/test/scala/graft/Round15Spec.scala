package graft

import org.apache.spark.sql.functions._
import graft.streaming.Streaming

/** Round-15 additions: the streaming pattern family's stream==batch
  * triangle mirrors (the DuckDB oracle closes engine parity; these
  * close stream == Spark-batch in one session) and the two-file
  * out-of-order arrival proof for the NFA order guards (VERDICT r14
  * #2 / ADVICE r14: without `us >= state` conjuncts, an event landing
  * in a LATER micro-batch with an EARLIER timestamp than absorbed
  * state matched against a signup that follows it in event time). */
class Round15Spec extends GraftSuite {

  private def oneRow(key: String) =
    SparkEntry.queries(key)(spark, sf).collect()(0)

  test("stream_pattern_alternation == batch window_pattern_alternation " +
      "(same column names, same values — the NFA and the carry chain " +
      "are two compilations of one pattern)") {
    val s = SparkEntry.queries("stream_pattern_alternation")(spark, sf)
    val b = SparkEntry.queries("window_pattern_alternation")(spark, sf)
    assert(s.columns.toSeq == b.columns.toSeq,
      s"schema drift: stream=${s.columns.toSeq} batch=${b.columns.toSeq}")
    val (sr, br) = (s.collect()(0), b.collect()(0))
    assert(sr == br, s"stream=$sr batch=$br")
  }

  test("stream_pattern_negation == batch window_pattern_negation") {
    val s = SparkEntry.queries("stream_pattern_negation")(spark, sf)
    val b = SparkEntry.queries("window_pattern_negation")(spark, sf)
    assert(s.columns.toSeq == b.columns.toSeq)
    assert(s.collect()(0) == b.collect()(0))
  }

  test("stream_pattern_kleene == batch window_pattern_kleene") {
    val s = SparkEntry.queries("stream_pattern_kleene")(spark, sf)
    val b = SparkEntry.queries("window_pattern_kleene")(spark, sf)
    assert(s.columns.toSeq == b.columns.toSeq)
    assert(s.collect()(0) == b.collect()(0))
  }

  test("stream pattern NFAs: sane reach shapes on the fixture") {
    val a = oneRow("stream_pattern_alternation")
    // cols: n_users, n_signup, n_alt_view, n_alt_click, n_alt_either,
    // n_purchase — branch reach <= signup reach; either bounded by
    // max and sum of the branches; purchase needs either
    assert(a.getLong(2) <= a.getLong(1) && a.getLong(3) <= a.getLong(1))
    assert(a.getLong(4) >= math.max(a.getLong(2), a.getLong(3)) &&
      a.getLong(4) <= a.getLong(2) + a.getLong(3))
    assert(a.getLong(5) <= a.getLong(4))
    val n = oneRow("stream_pattern_negation")
    assert(n.getLong(3) + n.getLong(4) == n.getLong(2),
      "pure + tainted must partition the deadline purchases")
    val k = oneRow("stream_pattern_kleene")
    assert(k.getLong(3) <= k.getLong(2),
      "valid chains are a subset of chains")
    assert(k.getLong(5) <= k.getLong(4),
      "purchasers are a subset of valid-chain users")
  }

  test("funnel NFA survives two-file OUT-OF-ORDER arrival: an earlier-" +
      "timestamped view landing in a later micro-batch must NOT match " +
      "a signup that follows it in event time (and a legitimate " +
      "cross-batch continuation must still match)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("graft_ooo_events").toString
    val H = 3600L
    def write(name: String, rows: Seq[(Long, Long, String, Long)],
              mtime: Long): Unit = {
      val df = spark.createDataFrame(rows)
        .toDF("user_id", "event_id", "event_type", "sec")
        .select(col("user_id"), col("event_id"), col("event_type"),
          timestamp_seconds(col("sec")).as("ts"))
      val tmp = Files.createTempDirectory("graft_ooo_stage")
      try {
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = tmp.toFile.listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(part.toPath, Paths.get(dir, name))
      } finally sources.Staging.deleteTree(tmp)
      Files.setLastModifiedTime(Paths.get(dir, name),
        FileTime.fromMillis(mtime))
    }
    try {
      // file 1 (arrives first): user 1 signs up LATE in event time;
      // user 2 signs up early. file 2 (arrives a minute later): user 1's
      // view+purchase carry EARLIER timestamps than the absorbed signup
      // (the false-match bait); user 2's view+purchase are a legitimate
      // in-window continuation.
      write("events.parquet", Seq(
        (1L, 10L, "signup", 100 * H),
        (2L, 20L, "signup", 10 * H)), 1000000L)
      write("events.b.parquet", Seq(
        (1L, 11L, "view", 50 * H),
        (1L, 12L, "purchase", 51 * H),
        (2L, 21L, "view", 12 * H),
        (2L, 22L, "purchase", 13 * H)), 1060000L)
      SessionScope.withConf(spark)("graft.stream.maxFilesPerTrigger" -> "1") {
        val r = Streaming.queries("stream_pattern_funnel")(spark, dir)
          .collect()(0)
        // batch event-time semantics: user 1's view precedes its signup
        // -> no match; user 2 converts fully
        assert(r.getLong(0) == 2 && r.getLong(1) == 2,
          s"expected 2 users / 2 signups, got $r")
        assert(r.getLong(2) == 1,
          s"expected exactly user 2's view to match, got $r — a count " +
            "of 2 means the out-of-order guard failed (negative-delta " +
            "deadline match); 0 means the guard over-suppressed")
        assert(r.getLong(3) == 1, s"expected exactly 1 purchase, got $r")
      }
    } finally sources.Staging.deleteTree(Paths.get(dir))
  }
}
