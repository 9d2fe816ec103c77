package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import graft.{SessionScope, Tables}

/** Structured-Streaming operators (SURVEY.md §2.9).
  *
  * Harness pattern (SURVEY §2.9): each declared query drives a real
  * Structured Streaming query over the fixture with
  * `Trigger.AvailableNow` into an in-memory sink (or a staged parquet
  * dir for foreachBatch), waits for it to drain, and returns the
  * completed result as a batch DataFrame — so `Verify` can dump it and
  * the DuckDB oracle can check it against the batch-equivalent SQL.
  *
  * The memory sink collects to the driver — that is ONLY the test
  * harness surface (bounded aggregates). The production path is
  * `stream_foreachbatch_stage`, which stages partitioned parquet
  * exactly like the reference's microbatch ETL.
  *
  * Scale notes (100 TB): streaming state is bounded — windowed aggs
  * keep one row per (window × group); the dedup state is bounded by
  * the 1 h watermark in event-time order; the stateful counter keeps
  * one long per user. foreachBatch writes partitioned parquet
  * append-only (no global sort, no driver collect), which is the
  * reference's staging write.
  */
object Streaming {
  type Q = (SparkSession, String) => DataFrame

  private val sinkId = new AtomicInteger(0)

  /** Streaming read of the events fixture, with `ts` mapped onto
    * `TimestampType` by Tables.normalizeEventsTs as the batch loader
    * does. A file source needs its schema up front; it comes from the
    * fixture file's footer (Tables.footerSchema), so no job runs. */
  private[graft] def eventsStream(s: SparkSession, d: String): DataFrame = {
    val schema = Tables.footerSchema(s, s"$d/events.parquet")
    // FileStreamSource requires a directory or glob, not a bare file
    // path — `events.*` matches exactly the fixture file and makes the
    // sf dir the inferred basePath.
    // Session-scoped maxFilesPerTrigger knob: production file
    // streams cap files per micro-batch exactly this way; the
    // out-of-order StreamingSpec sets it to 1 over a two-file fixture
    // to force the cross-batch arrival the NFA order guards exist for.
    // Unset (every declared run), behavior is unchanged — AvailableNow
    // drains the fixture in one batch.
    val rdr = s.readStream.schema(schema)
    val capped = s.conf.getOption("graft.stream.maxFilesPerTrigger")
      .map(v => rdr.option("maxFilesPerTrigger", v)).getOrElse(rdr)
    Tables.normalizeEventsTs(capped.parquet(s"$d/events.*"))
  }

  /** The scope every streaming query of the board starts in. Both
    * settings are read when a query starts, so they must hold there:
    *  - `spark.sql.shuffle.partitions` = 8. Streaming state is
    *    partitioned by it at query start, and every micro-batch opens
    *    and commits one state store per partition, each with its own
    *    delta and checksum files. The board's state is kilobytes, so the
    *    count is fixed cost; 8 bounds it whatever the session's width.
    *    On a cluster it is sized to state volume, not to core count.
    *  - `fs.AbstractFileSystem.file.impl` = [[NoForkLocalFs]]. The offset
    *    log, commit log and state store write through a `FileContext`,
    *    whose local filesystem otherwise forks `chmod` per file and
    *    `readlink` per rename. Only `FileContext` users see it: the
    *    cached `FileSystem` instances, the atomic renames and the
    *    checksum files stay as they are.
    * Both are restored when the block exits, so batch queries keep the
    * session's own settings. */
  private[graft] def withStreamShuffle[T](s: SparkSession)(f: => T): T =
    SessionScope.withConf(s)(
      "spark.sql.shuffle.partitions" -> "8",
      "fs.AbstractFileSystem.file.impl" -> classOf[NoForkLocalFs].getName)(f)

  /** Drain a streaming DataFrame into a memory sink and return the
    * sink contents as a batch DataFrame. The sink's temp view is
    * dropped once the frame has resolved it: the frame keeps the
    * sink's rows, the session keeps no name for them. */
  private[graft] def drain(sdf: DataFrame, mode: String): DataFrame =
    withStreamShuffle(sdf.sparkSession) {
      val name = "graft_sink_" + sinkId.incrementAndGet()
      val q = sdf.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = sdf.sparkSession.table(name)
      sdf.sparkSession.catalog.dropTempView(name)
      out
    }

  /** Watermarked (views, purchases) stream pair + the shared 1-hour
    * attribution-join condition — single source for both stream-stream
    * join keys so the window/watermark can never silently diverge. */
  private def attributionStreams(s: SparkSession, d: String)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val views = eventsStream(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = eventsStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val cond = col("p_user") === col("v_user") &&
      col("v_ts") <= col("p_ts") &&
      col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR")
    (views, purchases, cond)
  }

  /** Per-user state carried by the transformWithState processor. */
  case class UserStats(n: Long, lastUs: Long)

  /** Spark 4 `StatefulProcessor` (the transformWithState API — the
    * successor to mapGroupsWithState): explicit named ValueState per
    * key, RocksDB-backed, emitting the running (count, last-seen
    * epoch-µs) per user on every input batch. Integer-only state, so
    * the final-state fingerprint is float-free for the oracle. */
  class UserStatsProcessor
      extends StatefulProcessor[Long, (Long, Long), (Long, Long, Long)] {
    @transient private var st: ValueState[UserStats] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UserStats](
        "userStats", Encoders.product[UserStats], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timers: TimerValues): Iterator[(Long, Long, Long)] = {
      var cur = if (st.exists()) st.get() else UserStats(0L, 0L)
      rows.foreach(r => cur = UserStats(cur.n + 1, math.max(cur.lastUs, r._2)))
      st.update(cur)
      Iterator.single((key, cur.n, cur.lastUs))
    }
  }

  val queries: Map[String, Q] = Map(
    // The Spark-4 stateful API: transformWithState with a named
    // RocksDB-backed ValueState (mapGroupsWithState's successor —
    // typed state cells, TTL support, timers). Update-mode drain +
    // final max per key = the end state; batch SQL is the oracle.
    "stream_transform_with_state" -> ((s, d) =>
      SessionScope.withConf(s)("spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        import s.implicits._
        val ds = eventsStream(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("us"))
          .as[(Long, Long)]
        val counted = ds.groupByKey(_._1)
          .transformWithState(new UserStatsProcessor,
            TimeMode.None(), OutputMode.Update())
          .toDF("user_id", "n", "last_us")
        drain(counted, "update")
          .filter(col("user_id") % 10 === 0)
          .groupBy("user_id")
          .agg(max(col("n")).as("n"), max(col("last_us")).as("last_us"))
          .orderBy("user_id")
      }),

    // Streaming RAG ingest: the chunk stage of
    // pipeline_chunk_embed_e2e as a STREAM — documents arrive as
    // files, each micro-batch chunks them (120/80 sliding geometry,
    // a stateless per-row generator: zero streaming state) and the
    // per-language chunk/token/char census aggregates in complete
    // mode (one row per language of state). This is how a corpus
    // build keeps the chunk index warm as crawls land: the generator
    // is embarrassingly parallel per file, the only state is the
    // bounded language census. Batch-equivalence with the chunk CTE
    // is the oracle.
    "stream_chunk_ingest" -> ((s, d) => {
      val chunks = s.readStream
        .schema(Tables.footerSchema(s, s"$d/documents.parquet"))
        .parquet(s"$d/documents.*")
        .select(col("lang"), col("text"), length(col("text")).as("len"))
        .select(col("lang"), col("text"), explode(expr(
          """transform(sequence(0L, (greatest(len - 120, 0) + 79) div 80),
               i -> cast(i * 80 + 1 as int))""")).as("p"))
        .select(col("lang"),
          expr("substring(text, p, 120)").as("chunk"))
        .select(col("lang"),
          length(col("chunk")).cast("long").as("chars"),
          size(split(col("chunk"), " ")).cast("long").as("toks"))
      drain(chunks.groupBy("lang")
          .agg(count(lit(1)).as("n_chunks"),
            sum(col("toks")).as("n_tokens"),
            sum(col("chars")).as("n_chars")), "complete")
        .orderBy("lang")
    }),

    // Streaming ANN-index maintenance — the
    // production RAG freshness story: documents arrive as files;
    // each micro-batch (a) chunks them (120/80, the
    // text_chunk_sliding geometry), embeds the chunks as relational
    // (cid, dim, count) postings (feature_hashed_ngrams' md5-prefix
    // dims) and APPENDS them to the inverted index —
    // pipeline_chunk_embed_e2e's candidate side, kept warm without
    // rebuilds — and (b) incrementally merges the batch's per-dim
    // document frequencies into a standing ≤257-row stats synopsis
    // (df per dim + a dim=−1 chunk-count row), read-modify-write per
    // batch against a versioned dir (v<batchId> — reading v<n−1>
    // while writing v<n>, never overwriting what's being read). The
    // stats table is what prices the STOP-DIM cut at query time; the
    // whole point is that its maintenance cost is O(|dims|) per
    // batch, independent of index size. Incremental correctness is
    // DECLARED, not assumed: the output joins the incrementally-
    // maintained df against a full recompute over the final index
    // and carries the equality flag (the
    // stage_incremental_agg_maintenance IVM contract). Two source
    // files + maxFilesPerTrigger=1 force ≥2 real micro-batches so
    // the merge path actually runs. Batch-order-invariant by
    // construction (chunk ids are disjoint across batches; df sums
    // commute), so the oracle is the batch-equivalent SQL.
    "stream_ann_index_maintain" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("annsrc")
      val idx = graft.sources.Staging.tmpDir("annidx")
      val stats = graft.sources.Staging.tmpDir("annstats")
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      def postingsOf(batch: DataFrame): DataFrame = batch
        .select(col("doc_id"), col("text"), length(col("text")).as("len"))
        .select(col("doc_id"), col("text"), explode(expr(
          """transform(sequence(0L, (greatest(len - 120, 0) + 79) div 80),
               i -> named_struct('i', i, 'p', cast(i * 80 + 1 as int)))"""
        )).as("c"))
        .select(col("doc_id"),
          concat(col("doc_id").cast("string"), lit("#"),
            col("c.i").cast("string")).as("cid"),
          expr("substring(text, c.p, 120)").as("chunk"))
        .select(col("cid"), explode(split(col("chunk"), " ")).as("w"))
        .select(col("cid"),
          expr("CAST(conv(substring(md5(w), 1, 2), 16, 10) AS BIGINT)")
            .as("dim"))
        .groupBy("cid", "dim").agg(count(lit(1)).as("c"))
      withStreamShuffle(s) {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/*.parquet")
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val postings = batch.transform(postingsOf).localCheckpoint()
            // batchId-keyed OVERWRITE, not a bare append: foreachBatch
            // is at-least-once, and a retried batch appending its
            // postings twice would break the declared
            // incremental==full `consistent` contract (the
            // stream_checkpoint_restart recipe below)
            postings.write.mode("overwrite").parquet(s"$idx/b$batchId")
            val delta = postings.groupBy("dim")
              .agg(count(lit(1)).as("df"))
              .unionByName(postings.select("cid").distinct()
                .agg(count(lit(1)).as("df"))
                .select(lit(-1L).as("dim"), col("df")))
            val merged =
              if (batchId == 0L) delta
              else batch.sparkSession.read
                .parquet(s"$stats/v${batchId - 1}")
                .unionByName(delta)
                .groupBy("dim").agg(sum(col("df")).as("df"))
            merged.coalesce(1).write.mode("overwrite")
              .parquet(s"$stats/v$batchId")
            postings.unpersist()
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      val lastV = new java.io.File(stats).listFiles()
        .map(_.getName).filter(_.startsWith("v"))
        .map(_.drop(1).toLong).max
      val st = s.read.parquet(s"$stats/v$lastV")
      val nChunks = st.filter(col("dim") === -1L)
        .select(col("df").as("n_chunks"))
      // the b<batchId> directories, listed like `stats` above: a glob
      // path would make the reader probe it as a literal directory
      val full = s.read.parquet(new java.io.File(idx).listFiles()
          .filter(_.getName.startsWith("b")).map(_.getPath): _*)
        .groupBy("dim").agg(count(lit(1)).as("df_full"))
      st.filter(col("dim") >= 0L)
        .join(full, Seq("dim"))
        .crossJoin(broadcast(nChunks))
        .orderBy(col("df").desc, col("dim")).limit(10)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
            .orderBy(col("df").desc, col("dim"))))
        .select(col("rank").cast("long").as("rank"), col("dim"),
          col("df"), col("df_full"), col("n_chunks"),
          (col("df") * 10 > col("n_chunks") * 3).as("is_stop"),
          (col("df") === col("df_full")).as("consistent"))
        .orderBy("rank")
    }),

    // Tumbling 1-hour windows × event_type (epoch-aligned — equivalent
    // to date_trunc('hour') batch grouping).
    "stream_tumbling_window" -> ((s, d) =>
      drain(eventsStream(s, d)
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .count(), "complete")
        .select(col("window.start").as("ws"), col("event_type"),
          col("count").as("n"))
        .orderBy("ws", "event_type")),

    // 1-hour windows sliding every 15 minutes: each event lands in 4
    // overlapping windows; top-20 busiest.
    "stream_sliding_window" -> ((s, d) =>
      drain(eventsStream(s, d)
          .groupBy(window(col("ts"), "1 hour", "15 minutes"))
          .count(), "complete")
        .select(col("window.start").as("ws"), col("count").as("n"))
        .orderBy(col("n").desc, col("ws"))
        .limit(20)),

    // Per-user session windows (30-min gap); output = histogram of
    // session sizes, identical to the batch lag-sessionize semantics
    // (no exact-30-min gaps exist in the fixture, so > vs >= cannot
    // diverge — verified).
    "stream_session_window" -> ((s, d) =>
      drain(eventsStream(s, d)
          .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
          .count(), "complete")
        .groupBy(col("count").as("sess_len"))
        .agg(count(lit(1)).as("n_sessions"))
        .select(col("sess_len"), col("n_sessions"))
        .orderBy("sess_len")),

    // Streaming dedup bounded by a 1-hour event-time watermark.
    "stream_watermark_dedup" -> ((s, d) =>
      drain(eventsStream(s, d)
          .withWatermark("ts", "1 hour")
          .dropDuplicates("event_id"), "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // dropDuplicatesWithinWatermark (Spark 3.5+ API): dedup state is
    // EVICTED once an id's first-seen timestamp ages past the
    // watermark — bounded state even over unbounded id spaces, the
    // practical contract for at-least-once sources whose retries
    // cluster in time. (dropDuplicates keeps ids forever unless the
    // event-time column is part of the key.)
    "stream_dedup_within_watermark" -> ((s, d) =>
      drain(eventsStream(s, d)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id"), "append")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Explicit per-key state: running per-user event counter via
    // mapGroupsWithState; final counter per sampled user.
    "stream_stateful_counter" -> ((s, d) => {
      import s.implicits._
      val ds = eventsStream(s, d).select(col("user_id")).as[Long]
      val counted = ds.groupByKey(identity)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[Long], st: GroupState[Long]) =>
            val c = st.getOption.getOrElse(0L) + rows.size
            st.update(c)
            (uid, c)
        }.toDF("user_id", "n")
      drain(counted, "update")
        .filter(col("user_id") % 10 === 0)
        .groupBy("user_id")
        .agg(max(col("n")).as("n")) // last update = final counter
        .orderBy("user_id")
    }),

    // Streaming MATCH_RECOGNIZE funnel — the streaming
    // counterpart of the batch pattern family (kstep/alternation/
    // kleene/negation): a per-user NFA carried in mapGroupsWithState.
    // Each micro-batch folds the user's new events IN TIME ORDER
    // (the group iterator has no order contract — sorted per batch;
    // group size = that user's events in the batch, the same bound
    // every per-user stateful op carries) over the latest-completion
    // carry the batch keys compile to: s0 = latest signup, s1 =
    // latest view within 12 h of s0, s2 = latest purchase within 8 h
    // of s1 — the state is three longs per user, bounded and
    // watermark-free, exactly what an online funnel monitor keeps.
    // Output: final per-step user reach; the oracle is the same
    // chained-carry batch SQL, so batch/stream semantic parity is
    // hash-checked, not asserted.
    "stream_pattern_funnel" -> ((s, d) => {
      import s.implicits._
      val H = 3600L * 1000000
      val ds = eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, String, Long)]
      val stepped = ds.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, String, Long)],
           st: GroupState[(Long, Long, Long)]) =>
            // sentinel Long.MinValue = "state unset" (Option inside
            // the state tuple defeats the tuple encoder's null-free
            // fast path; the sentinel keeps state 3 plain longs)
            var (s0, s1, s2) = st.getOption
              .getOrElse((Long.MinValue, Long.MinValue, Long.MinValue))
            // `us >= sN` order guards: within a
            // batch the sort makes them redundant (a running max is
            // always ≤ the current row's time), but an event arriving
            // in a LATER micro-batch with an EARLIER timestamp than
            // absorbed state would otherwise satisfy the deadline test
            // with a NEGATIVE difference and match a signup that
            // FOLLOWS it in event time. The guards eliminate that
            // false-match class for any multi-file source (late
            // arrivals still can't RETROACTIVELY complete an earlier
            // event's match — no streaming NFA can without
            // retraction); StreamingSpec pins two-file out-of-order
            // parity on exactly the adversarial arrival the guards
            // exist for.
            rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
              case (_, _, t, us) => t match {
                case "signup" => s0 = math.max(s0, us)
                case "view" if s0 != Long.MinValue && us >= s0 &&
                    us - s0 <= 12 * H =>
                  s1 = math.max(s1, us)
                case "purchase" if s1 != Long.MinValue && us >= s1 &&
                    us - s1 <= 8 * H =>
                  s2 = math.max(s2, us)
                case _ =>
              }
            }
            st.update((s0, s1, s2))
            (uid, s0 != Long.MinValue, s1 != Long.MinValue,
              s2 != Long.MinValue)
        }.toDF("user_id", "r0", "r1", "r2")
      drain(stepped, "update")
        // update mode emits one row per user per batch; the final
        // batch's flags are monotone supersets, so max == last
        .groupBy("user_id")
        .agg(max(col("r0")).as("r0"), max(col("r1")).as("r1"),
          max(col("r2")).as("r2"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("r0"), 1)).as("n_signup"),
          count(when(col("r1"), 1)).as("n_view"),
          count(when(col("r2"), 1)).as("n_purchase"))
    }),

    // Streaming MATCH_RECOGNIZE alternation —
    // `signup (view{≤12h} | click{≤4h}) purchase{≤8h}` as a
    // per-user NFA: the automaton holds BOTH branch states (latest
    // in-deadline view, latest in-deadline click) and the purchase
    // transition keys off their max — the same greatest-carry
    // compilation the batch twin uses, so the oracle IS the batch
    // key's SQL and stream/batch parity is hash-checked. State: four
    // longs per user; `us >= state` order guards throughout (the
    // funnel's cross-batch rule).
    "stream_pattern_alternation" -> ((s, d) => {
      import s.implicits._
      val H = 3600L * 1000000
      val NA = Long.MinValue
      val ds = eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, String, Long)]
      val stepped = ds.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, String, Long)],
           st: GroupState[(Long, Long, Long, Long)]) =>
            var (s0, sv, sc, s2) = st.getOption.getOrElse((NA, NA, NA, NA))
            rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
              case (_, _, t, us) => t match {
                case "signup" => s0 = math.max(s0, us)
                case "view" if s0 != NA && us >= s0 && us - s0 <= 12 * H =>
                  sv = math.max(sv, us)
                case "click" if s0 != NA && us >= s0 && us - s0 <= 4 * H =>
                  sc = math.max(sc, us)
                case "purchase" =>
                  val s1 = math.max(sv, sc)
                  if (s1 != NA && us >= s1 && us - s1 <= 8 * H)
                    s2 = math.max(s2, us)
                case _ =>
              }
            }
            st.update((s0, sv, sc, s2))
            (uid, s0 != NA, sv != NA, sc != NA, s2 != NA)
        }.toDF("user_id", "r0", "rv", "rc", "r2")
      drain(stepped, "update")
        .groupBy("user_id")
        .agg(max(col("r0")).as("r0"), max(col("rv")).as("rv"),
          max(col("rc")).as("rc"), max(col("r2")).as("r2"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("r0"), 1)).as("n_signup"),
          count(when(col("rv"), 1)).as("n_alt_view"),
          count(when(col("rc"), 1)).as("n_alt_click"),
          count(when(col("rv") || col("rc"), 1)).as("n_alt_either"),
          count(when(col("r2"), 1)).as("n_purchase"))
    }),

    // Streaming MATCH_RECOGNIZE negation — `signup (!click)*
    // purchase{≤24h}`: the NFA carries the latest signup AND the
    // latest click; a deadline purchase is "pure" when no click
    // falls between its matched signup and itself (lastc unset or
    // < s0 — evaluated at the purchase, exactly the batch carry).
    // The declared counts are EVENT-grain (purchases, not users), so
    // the state adds two monotone counters — still bounded per user.
    "stream_pattern_negation" -> ((s, d) => {
      import s.implicits._
      val H = 3600L * 1000000
      val NA = Long.MinValue
      val ds = eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, String, Long)]
      val stepped = ds.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, String, Long)],
           st: GroupState[(Long, Long, Long, Long)]) =>
            var (s0, lastc, nd, np) = st.getOption.getOrElse((NA, NA, 0L, 0L))
            rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
              case (_, _, t, us) => t match {
                case "signup" => s0 = math.max(s0, us)
                case "click" => lastc = math.max(lastc, us)
                case "purchase"
                    if s0 != NA && us >= s0 && us - s0 <= 24 * H =>
                  nd += 1
                  if (lastc == NA || lastc < s0) np += 1
                case _ =>
              }
            }
            st.update((s0, lastc, nd, np))
            (uid, s0 != NA, nd, np)
        }.toDF("user_id", "r0", "nd", "np")
      drain(stepped, "update")
        .groupBy("user_id")
        .agg(max(col("r0")).as("r0"), max(col("nd")).as("nd"),
          max(col("np")).as("np"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("r0"), 1)).as("n_signup"),
          sum(col("nd")).as("n_deadline_purchases"),
          sum(col("np")).as("n_pure_purchases"),
          sum(col("nd") - col("np")).as("n_tainted_purchases"))
    }),

    // Streaming MATCH_RECOGNIZE Kleene-plus — `signup view+
    // purchase` with an 8 h intra-chain gap bound and a 12 h
    // chain-start deadline off the latest signup. The NFA carries
    // the CURRENT chain's validity (decided once, at its head, from
    // the state as of that event — exactly the batch key's
    // head-row validation), the latest valid-chain view, and two
    // monotone chain counters. Seven longs per user, watermark-free;
    // the oracle is the batch twin's sessionized carry SQL verbatim.
    "stream_pattern_kleene" -> ((s, d) => {
      import s.implicits._
      val H = 3600L * 1000000
      val NA = Long.MinValue
      val ds = eventsStream(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .as[(Long, Long, String, Long)]
      val stepped = ds.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long, String, Long)],
           st: GroupState[(Long, Long, Long, Long, Long, Long, Long)]) =>
            var (s0, pv, cvalid, stv, s2, nch, nvch) =
              st.getOption.getOrElse((NA, NA, 0L, NA, NA, 0L, 0L))
            rows.toSeq.sortBy(r => (r._4, r._2)).foreach {
              case (_, _, t, us) => t match {
                case "signup" => s0 = math.max(s0, us)
                case "view" =>
                  val head = pv == NA || us - pv > 8 * H
                  if (head) {
                    nch += 1
                    cvalid = if (s0 != NA && us >= s0 &&
                      us - s0 <= 12 * H) 1L else 0L
                    if (cvalid == 1L) nvch += 1
                  }
                  pv = math.max(pv, us)
                  if (cvalid == 1L) stv = math.max(stv, us)
                case "purchase"
                    if stv != NA && us >= stv && us - stv <= 8 * H =>
                  s2 = math.max(s2, us)
                case _ =>
              }
            }
            st.update((s0, pv, cvalid, stv, s2, nch, nvch))
            (uid, s0 != NA, nch, nvch, stv != NA, s2 != NA)
        }.toDF("user_id", "r0", "nch", "nvch", "rv", "r2")
      drain(stepped, "update")
        .groupBy("user_id")
        .agg(max(col("r0")).as("r0"), max(col("nch")).as("nch"),
          max(col("nvch")).as("nvch"), max(col("rv")).as("rv"),
          max(col("r2")).as("r2"))
        .agg(count(lit(1)).as("n_users"),
          count(when(col("r0"), 1)).as("n_signup"),
          sum(col("nch")).as("n_chains"),
          sum(col("nvch")).as("n_valid_chains"),
          count(when(col("rv"), 1)).as("n_chain_users"),
          count(when(col("r2"), 1)).as("n_purchase"))
    }),

    // Stream-static join: the streaming events enriched against a
    // static dimension (batch-computed user→bucket map) — the standard
    // enrichment shape of the reference's microbatch ETL. The static
    // side is re-read per micro-batch by Spark; at 100 TB it should be
    // a broadcast-sized dim or a pre-bucketed table.
    "stream_static_join" -> ((s, d) => {
      val staticDim = graft.Tables.events(s, d)
        .select(col("user_id")).distinct()
        .withColumn("bucket", col("user_id") % 10)
      val joined = eventsStream(s, d)
        .join(staticDim, "user_id")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n")) // exact distinct is unsupported in
                                    // streaming aggs; count suffices
      drain(joined, "complete")
        .select(col("bucket"), col("n"))
        .orderBy("bucket")
    }),

    // Stream-stream inner join: purchases matched to the views that
    // preceded them by ≤1 h for the same user, both sides watermarked
    // (the watermark bounds join STATE — each side buffers only 1 h of
    // events; matches emit as they arrive). The attribution-join shape
    // of the reference's event pipeline; state is per-user and
    // time-bounded, so it holds at any corpus size.
    "stream_stream_join" -> ((s, d) => {
      val (views, purchases, cond) = attributionStreams(s, d)
      drain(purchases.join(views, cond), "append")
        .groupBy((col("p_user") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(unix_micros(col("p_ts")) - unix_micros(col("v_ts")))
            .as("gap_us_total"))
        .orderBy("bucket")
    }),

    // Stream-stream LEFT OUTER join: unmatched purchases emit with a
    // null view once the watermark closes their join window. Outer
    // emission timing is watermark-dependent, so the declared result
    // keeps only provably-closed unmatched rows (p_ts ≤ max − 2 h − 1 s:
    // final watermark is max − 1 h, and a purchase's window closes one
    // more hour later) — deterministic on both engines; matched rows
    // emit immediately and are all kept.
    "stream_stream_left_outer" -> ((s, d) => {
      val cutoff = graft.Tables.events(s, d)
        .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0) -
        (2L * 3600 + 1) * 1000000L
      val (views, purchases, cond) = attributionStreams(s, d)
      drain(purchases.join(views, cond, "left_outer"), "append")
        .filter(col("v_ts").isNotNull ||
          unix_micros(col("p_ts")) <= cutoff)
        .groupBy((col("p_user") % 8).as("bucket"))
        .agg(count(col("v_ts")).as("n_matched"),
          count(when(col("v_ts").isNull, 1)).as("n_unmatched"))
        .orderBy("bucket")
    }),

    // TRUE incremental processing: the source is split into multiple
    // files and maxFilesPerTrigger=1 forces AvailableNow to run one
    // micro-batch PER FILE — each batch independently deduped and
    // appended to the staged table (the reference's S3-event cadence,
    // where every arriving object is its own micro-batch). The
    // fingerprint is batch-boundary-invariant, so the oracle is the
    // plain batch SQL; StreamingSpec asserts >1 batch actually ran.
    // Streaming QUALITY GATE — the curation funnel in motion:
    // documents arrive in micro-batches and each batch splits into
    // accept/quarantine dirs on PER-ROW metrics (token count ≥ 30,
    // type-token ratio ≥ 0.5). The metrics are deliberately row-local
    // — corpus-global signals (tf-idf, top-k stopwords) would make
    // the verdict depend on batch boundaries, which is exactly the
    // trap this key documents: a streaming gate must be
    // batch-boundary-invariant for its batch oracle to exist at all.
    // The declared result re-reads both dirs: the split is
    // hash-checked against the whole-corpus batch computation.
    "stream_quality_gate" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("qgate_src")
      val accept = graft.sources.Staging.tmpDir("qgate_accept")
      val quar = graft.sources.Staging.tmpDir("qgate_quar")
      Tables.documents(s, d).repartition(2)
        .write.mode("overwrite").parquet(src)
      withStreamShuffle(s) {
        val q = fileBatches(s, src)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val scored = batch.withColumn("toks", split(col("text"), " "))
              .withColumn("n_tok", size(col("toks")))
              .withColumn("ttr", size(array_distinct(col("toks")))
                / col("n_tok").cast("double"))
              .withColumn("pass",
                col("n_tok") >= 30 && col("ttr") >= 0.5)
              .drop("toks")
            scored.filter(col("pass")).drop("pass", "n_tok", "ttr")
              .write.mode("append").parquet(accept)
            scored.filter(!col("pass")).drop("pass", "n_tok", "ttr")
              .write.mode("append").parquet(quar)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def side(dir: String, v: String): DataFrame =
        s.read.parquet(dir).groupBy("lang")
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("bigint").as("chars"))
          .select(lit(v).as("verdict"), col("lang"), col("n"), col("chars"))
      side(accept, "accept").unionAll(side(quar, "quarantine"))
        .orderBy("verdict", "lang")
    }),

    // CDC APPLY — the streaming upsert-merge pattern: each
    // micro-batch is a changelog chunk; foreachBatch folds it into a
    // keyed snapshot via full-outer merge of ASSOCIATIVE partials
    // (count-sum / decimal-sum / max), writing a new snapshot version
    // per batch (CoW — the reader never sees a torn state). Because
    // the merge algebra is associative+commutative, the final
    // snapshot equals the one-shot batch aggregate NO MATTER how the
    // files were chunked into batches — which is exactly what the
    // oracle checks (the incremental-view-maintenance correctness
    // statement). At 100 TB each merge shuffles only (changed keys ∪
    // snapshot), and the snapshot side would be a keyed table format
    // (stage_acid_merge) rather than a full rewrite.
    "stream_upsert_apply" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("cdc_src")
      val snapRoot = graft.sources.Staging.tmpDir("cdc_snap")
      Tables.events(s, d).filter(col("user_id") % 5 === 0)
        .repartition(3).write.mode("overwrite").parquet(src)
      withStreamShuffle(s) {
        var version = 0 // driver-held head pointer (the manifest role)
        val q = fileBatches(s, src)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val part = batch.groupBy("user_id")
              .agg(count(lit(1)).as("n"),
                sum(col("value").cast("decimal(18,2)")).as("total"),
                max(unix_micros(col("ts"))).as("last_us"))
            val merged = if (version == 0) part else {
              val cur = s.read.parquet(s"$snapRoot/v$version")
                .withColumnRenamed("user_id", "cu")
                .withColumnRenamed("n", "cn")
                .withColumnRenamed("total", "ctotal")
                .withColumnRenamed("last_us", "clast")
              cur.join(part, col("cu") === col("user_id"), "full")
                .select(
                  coalesce(col("user_id"), col("cu")).as("user_id"),
                  (coalesce(col("cn"), lit(0L))
                    + coalesce(col("n"), lit(0L))).as("n"),
                  (coalesce(col("ctotal"), lit(0).cast("decimal(18,2)"))
                    + coalesce(col("total"), lit(0).cast("decimal(18,2)")))
                    .cast("decimal(28,2)").as("total"),
                  greatest(col("clast"), col("last_us")).as("last_us"))
            }
            version += 1
            merged.write.mode("overwrite").parquet(s"$snapRoot/v$version")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(s"$snapRoot/v$version")
          .select(col("user_id"), col("n"),
            round(col("total").cast("double"), 4).as("total"),
            col("last_us"))
          .orderBy("user_id")
      }
    }),

    "stream_multi_microbatch_stage" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("mb_src")
      val out = graft.sources.Staging.tmpDir("mb_stage")
      // re-stage the fixture as 4 files with the ts already µs-typed
      Tables.events(s, d).repartition(4)
        .write.mode("overwrite").parquet(src)
      withStreamShuffle(s) {
        val q = fileBatches(s, src)
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.dropDuplicates("event_id")
              .write.mode("append").parquet(out)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"))
        .orderBy("event_type")
    }),

    // Exactly-once across a RESTART — the property the
    // reference's S3-event staging actually depends on: a stream with
    // a checkpoint processes the first half of the fixture, drains,
    // then MORE files land and a NEW query restarts from the SAME
    // checkpoint. The file-source offset log must resume past the
    // already-committed files, so the sink holds every event exactly
    // once — if recovery reprocessed run-1 files, the doubled counts
    // would break this key's oracle hash; the correctness gate itself
    // is the exactly-once proof. foreachBatch delivery is only
    // AT-LEAST-ONCE per batch (a micro-batch retry re-invokes the
    // function with the same batchId), so the write is made
    // IDEMPOTENT: each batch overwrites its own bid=<batchId>
    // subdirectory — a retry rewrites the same directory instead of
    // appending a duplicate, which is the standard
    // batchId-keyed-overwrite recipe for exactly-once foreachBatch
    // sinks on a real cluster (the local harness never retries, but
    // the claim must not depend on that).
    // StreamingSpec additionally asserts the sink row count equals
    // the fixture's and that run 2 committed new offsets.
    "stream_checkpoint_restart" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("ckpt_src")
      val out = graft.sources.Staging.tmpDir("ckpt_out")
      val ck = graft.sources.Staging.tmpDir("ckpt_meta")
      val ev = Tables.events(s, d)
      def run(): Unit = withStreamShuffle(s) {
        val q = fileBatches(s, src)
          .writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            // idempotent under retry: same batchId → same directory,
            // overwritten; checkpointed batchIds never collide across
            // the restart (run 2 resumes AFTER run 1's last id)
            batch.write.mode("overwrite").parquet(s"$out/bid=$bid")
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      ev.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.mode("append").parquet(src)
      run() // epoch 1: first half
      ev.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
      run() // restart: must pick up ONLY the new file
      s.read.parquet(out).drop("bid")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"))
        .orderBy("event_type")
    }),

    // THE reference pipeline: stream → foreachBatch { dedup, derive
    // partition column, write partitioned parquet } → read staged
    // table back and fingerprint it.
    "stream_foreachbatch_stage" -> ((s, d) => {
      // fixed, pre-cleaned scratch dir — append-mode writes must not
      // accumulate across runs (and /tmp must not fill up over rounds)
      val out = graft.sources.Staging.tmpDir("stage")
      withStreamShuffle(s) {
        val q = eventsStream(s, d).writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch
              .dropDuplicates("event_id")
              .withColumn("day", to_date(col("ts")))
              .write.mode("append").partitionBy("day").parquet(out)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          // value is 2-decimal data → decimal-exact sum (§5.4.2)
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"),
          countDistinct(col("day")).as("n_days"))
        .orderBy("event_type")
    }),

    // Late data under a watermark — the event-time semantics the
    // other streaming keys never exercise (their single source file
    // arrives in order). The fixture is split at its midpoint
    // timestamp into two files; explicit modification times force
    // batch 1 = RECENT half, batch 2 = OLD half (maxFilesPerTrigger=1
    // processes one file per micro-batch, oldest mod-time first).
    // Batch 1 advances the watermark to max(ts) − 30 min, hours past
    // every batch-2 row. MEASURED Spark 4.1.2 behavior: the
    // below-watermark batch-2 rows are NOT dropped on input
    // (numRowsDroppedByWatermark = 0); append mode admits them and
    // immediately emits their already-closed windows. So the engine-
    // level contract here is "windows with end ≤ watermark are final",
    // not "late input vanishes". The DECLARED result is therefore made
    // admission-policy-independent: it keeps only windows that start
    // strictly after the midpoint (reachable by recent-half rows
    // alone — an old row's hour-window starts ≤ its ts ≤ mid) and
    // that append mode closed (end ≤ final watermark). That subset is
    // batch-expressible for the oracle and invariant to whether an
    // engine drops or admits the late batch. StreamingSpec asserts 2
    // micro-batches ran and that no below-mid window leaks through.
    "stream_late_data_drop" -> ((s, d) => {
      val e = Tables.events(s, d).select(col("event_id"), col("ts"),
        unix_micros(col("ts")).as("us"))
      val mm = e.agg(min(col("us")), max(col("us"))).head
      val mid = (mm.getLong(0) + mm.getLong(1)) / 2
      val src = twoBatchSource(s,
        e.filter(col("us") > mid).select("event_id", "ts"),
        e.filter(col("us") <= mid).select("event_id", "ts"), "late")
      val sdf = fileBatches(s, src)
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour")).count()
        .select(col("window.start").as("ws"), col("count").as("n"))
      drain(sdf, "append")
        .filter(col("ws") > timestamp_micros(lit(mid)))
        .orderBy("ws")
    }),

    // UPDATE output mode — the output-mode-matrix completion (the
    // other streaming keys run append or complete). The memory sink
    // accumulates one row per (key, micro-batch-in-which-it-changed),
    // so the declared result is the running-count UPDATE HISTORY: a
    // user with events only in batch 1 emits (u, n1); a user touched
    // by both batches emits (u, n1) AND (u, n1+n2). The two batches
    // are a deterministic event_id-parity split with forced file
    // mod-times (same mechanism as stream_late_data_drop), so the
    // history is batch-expressible for the oracle. State is one long
    // per user — eviction semantics for unbounded key spaces are
    // covered by stream_dedup_within_watermark (spec-asserted).
    "stream_update_running_counts" -> ((s, d) => {
      val e = Tables.events(s, d).filter(col("user_id") % 10 === 0)
        .select(col("user_id"), col("event_id"))
      val src = twoBatchSource(s,
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 =!= 0), "upd")
      val sdf = fileBatches(s, src)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
      drain(sdf, "update").orderBy("user_id", "n")
    }),
  )

  /** The parquet files in `src`, which the calling key has just
    * written, as a stream of one file per micro-batch. The schema comes
    * from their footer (Tables.footerSchema), so no inference job runs. */
  private def fileBatches(s: SparkSession, src: String): DataFrame =
    s.readStream.schema(Tables.footerSchema(s, src))
      .option("maxFilesPerTrigger", "1").parquet(src)

  /** Stage two single-file parquet batches into one source dir with
    * FORCED modification times (fixed epoch base) so that
    * maxFilesPerTrigger=1 processes `first` then `second` — the
    * deterministic two-micro-batch arrival order several keys need.
    * Fixed scratch paths per `name` (pre-cleaned by tmpDir). */
  private def twoBatchSource(s: SparkSession, first: DataFrame,
      second: DataFrame, name: String): String = {
    import org.apache.hadoop.fs.Path
    val scratch = graft.sources.Staging.tmpDir(s"${name}_scratch")
    val src = graft.sources.Staging.tmpDir(s"${name}_src")
    first.coalesce(1).write.mode("overwrite").parquet(s"$scratch/f1")
    second.coalesce(1).write.mode("overwrite").parquet(s"$scratch/f2")
    val fs = org.apache.hadoop.fs.FileSystem
      .get(s.sparkContext.hadoopConfiguration)
    def placeAs(fromDir: String, fname: String, mtime: Long): Unit = {
      val part = fs.listStatus(new Path(fromDir))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      val dest = new Path(src, fname)
      org.apache.hadoop.fs.FileUtil.copy(fs, part, fs, dest, false, true,
        s.sparkContext.hadoopConfiguration)
      fs.setTimes(dest, mtime, -1)
    }
    val t0 = 1600000000000L // fixed epoch-ms: deterministic ordering
    placeAs(s"$scratch/f1", "00_first.parquet", t0)
    placeAs(s"$scratch/f2", "01_second.parquet", t0 + 60000)
    src
  }

  val oracles: Map[String, String] = Map(
    "stream_chunk_ingest" ->
      """WITH base AS (SELECT lang, text, length(text) AS len
                       FROM documents),
              ch AS (SELECT lang,
                            substr(text, CAST(i * 80 + 1 AS INT), 120)
                              AS chunk
                     FROM (SELECT lang, text,
                                  unnest(generate_series(0,
                                    (greatest(len - 120, 0) + 79) // 80))
                                    AS i
                           FROM base))
         SELECT lang, count(*) AS n_chunks,
                CAST(sum(len(string_split(chunk, ' '))) AS BIGINT)
                  AS n_tokens,
                CAST(sum(length(chunk)) AS BIGINT) AS n_chars
         FROM ch GROUP BY lang ORDER BY lang""",
    "stream_ann_index_maintain" ->
      """WITH base AS (SELECT doc_id, text, length(text) AS len
                       FROM documents),
              ch AS (SELECT doc_id, doc_id || '#' || i AS cid,
                            substr(text, CAST(i * 80 + 1 AS INT), 120)
                              AS chunk
                     FROM (SELECT doc_id, text,
                                  unnest(generate_series(0,
                                    (greatest(len - 120, 0) + 79) // 80))
                                    AS i
                           FROM base)),
              tokd AS (SELECT cid,
                              (CAST(strpos('0123456789abcdef',
                                      substr(md5(w), 1, 1)) - 1
                                    AS BIGINT)) * 16
                              + (CAST(strpos('0123456789abcdef',
                                       substr(md5(w), 2, 1)) - 1
                                     AS BIGINT)) AS dim
                       FROM (SELECT cid,
                                    unnest(string_split(chunk, ' ')) AS w
                             FROM ch)),
              emb AS (SELECT cid, dim, count(*) AS c
                      FROM tokd GROUP BY cid, dim),
              nc AS (SELECT count(DISTINCT cid) AS n_chunks FROM emb),
              df AS (SELECT dim, count(*) AS df FROM emb GROUP BY dim),
              rk AS (SELECT dim, df,
                            row_number() OVER (ORDER BY df DESC, dim)
                              AS rank
                     FROM df)
         SELECT CAST(rank AS BIGINT) AS rank, dim, df, df AS df_full,
                n_chunks, (df * 10 > n_chunks * 3) AS is_stop,
                TRUE AS consistent
         FROM rk CROSS JOIN nc WHERE rank <= 10 ORDER BY rank""",
    "stream_tumbling_window" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
         FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",
    "stream_sliding_window" ->
      """WITH w AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
                         - unnest(generate_series(0, 3)) * INTERVAL '15 minutes'
                           AS ws
                    FROM events)
         SELECT ws, count(*) AS n FROM w
         GROUP BY ws ORDER BY n DESC, ws LIMIT 20""",
    "stream_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_sess
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id,
                  sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         sizes AS (SELECT user_id, sid, count(*) AS sess_len
                   FROM sess GROUP BY 1, 2)
         SELECT sess_len, count(*) AS n_sessions
         FROM sizes GROUP BY sess_len ORDER BY sess_len""",
    "stream_watermark_dedup" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    // windows that start strictly after the midpoint (recent-half rows
    // only — boundary hour excluded on both sides) and were closed by
    // the final watermark hi − 30 min; see the query comment for why
    // the declared subset is admission-policy-independent
    "stream_late_data_drop" ->
      """WITH b AS (SELECT epoch_us(ts) AS us, ts FROM events),
              sp AS (SELECT (min(us) + max(us)) // 2 AS mid,
                            max(us) AS hi FROM b),
              agg AS (SELECT date_trunc('hour', ts) AS ws, count(*) AS n
                      FROM b, sp WHERE us > mid GROUP BY 1)
         SELECT ws, n FROM agg, sp
         WHERE epoch_us(ws) > mid
           AND epoch_us(ws) + 3600000000 <= hi - 1800000000
         ORDER BY ws""",
    // update-mode history: one row per user per micro-batch that
    // changed it — (u, n_batch1) for users in the even-id half, plus
    // (u, n_total) for users also touched by the odd-id half
    "stream_update_running_counts" ->
      """WITH e AS (SELECT user_id, event_id % 2 = 0 AS in_a
                    FROM events WHERE user_id % 10 = 0),
              a AS (SELECT user_id, count(*) AS n FROM e
                    WHERE in_a GROUP BY user_id),
              t AS (SELECT user_id, count(*) AS n FROM e GROUP BY user_id),
              b AS (SELECT DISTINCT user_id FROM e WHERE NOT in_a)
         SELECT user_id, n FROM a
         UNION ALL
         SELECT t.user_id, t.n FROM t JOIN b USING (user_id)
         ORDER BY user_id, n""",
    // single AvailableNow batch → watermark still 0 during the batch,
    // no state eviction → exact distinct (the API difference is the
    // eviction contract, which only shows across micro-batches)
    "stream_dedup_within_watermark" ->
      """SELECT event_type, count(DISTINCT event_id) AS n
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_stateful_counter" ->
      """SELECT user_id, count(*) AS n FROM events
         WHERE user_id % 10 = 0 GROUP BY user_id ORDER BY user_id""",
    // the NFA fold over time-ordered events == the batch
    // latest-completion carry chain (the kstep compilation) — the
    // oracle IS the batch semantics, so stream/batch parity is
    // hash-checked
    "stream_pattern_funnel" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
                           epoch_us(ts) AS us
                    FROM events),
              s0 AS (SELECT *,
                            max(CASE WHEN event_type = 'signup'
                                     THEN us END)
                              OVER (PARTITION BY user_id
                                ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS st0
                     FROM e),
              s1 AS (SELECT *,
                            max(CASE WHEN event_type = 'view'
                                     AND st0 IS NOT NULL
                                     AND us - st0 <= 43200000000
                                     THEN us END)
                              OVER (PARTITION BY user_id
                                ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS st1
                     FROM s0),
              s2 AS (SELECT *,
                            max(CASE WHEN event_type = 'purchase'
                                     AND st1 IS NOT NULL
                                     AND us - st1 <= 28800000000
                                     THEN us END)
                              OVER (PARTITION BY user_id
                                ORDER BY us, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS st2
                     FROM s1)
         SELECT count(DISTINCT user_id) AS n_users,
                count(DISTINCT CASE WHEN st0 IS NOT NULL
                                    THEN user_id END) AS n_signup,
                count(DISTINCT CASE WHEN st1 IS NOT NULL
                                    THEN user_id END) AS n_view,
                count(DISTINCT CASE WHEN st2 IS NOT NULL
                                    THEN user_id END) AS n_purchase
         FROM s2""",
    // Pattern family: stream/batch parity BY CONSTRUCTION — each
    // oracle is the batch twin's carry-chain SQL, shared verbatim, so
    // the two compilations of the same pattern can never drift apart
    // without a hash mismatch.
    "stream_pattern_alternation" ->
      graft.operators.Analytics6.oracles("window_pattern_alternation"),
    "stream_pattern_negation" ->
      graft.operators.Analytics6.oracles("window_pattern_negation"),
    "stream_pattern_kleene" ->
      graft.operators.Analytics6.oracles("window_pattern_kleene"),
    "stream_transform_with_state" ->
      """SELECT user_id, count(*) AS n,
                CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
         FROM events WHERE user_id % 10 = 0
         GROUP BY user_id ORDER BY user_id""",
    "stream_static_join" ->
      """WITH stat AS (SELECT DISTINCT user_id, user_id % 10 AS bucket
                       FROM events)
         SELECT bucket, count(*) AS n
         FROM events e JOIN stat ON e.user_id = stat.user_id
         GROUP BY bucket ORDER BY bucket""",
    "stream_stream_join" ->
      """SELECT p.user_id % 8 AS bucket, count(*) AS n_pairs,
                CAST(sum(epoch_us(p.ts) - epoch_us(v.ts)) AS BIGINT)
                  AS gap_us_total
         FROM events p JOIN events v ON p.user_id = v.user_id
          AND p.event_type = 'purchase' AND v.event_type = 'view'
          AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 1 HOUR
         GROUP BY bucket ORDER BY bucket""",
    "stream_stream_left_outer" ->
      """WITH m AS (SELECT max(ts) AS mx FROM events),
              p AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'purchase'),
              v AS (SELECT user_id, ts FROM events
                    WHERE event_type = 'view'),
              j AS (SELECT p.user_id AS pu, p.ts AS pts, v.ts AS vts
                    FROM p LEFT JOIN v ON p.user_id = v.user_id
                     AND v.ts <= p.ts
                     AND v.ts >= p.ts - INTERVAL 1 HOUR)
         SELECT pu % 8 AS bucket,
                count(vts) AS n_matched,
                count(*) FILTER (vts IS NULL) AS n_unmatched
         FROM j, m
         WHERE vts IS NOT NULL
            OR pts <= mx - INTERVAL 2 HOUR - INTERVAL 1 SECOND
         GROUP BY pu % 8 ORDER BY bucket""",
    // batch-boundary invariance: the streamed split must equal the
    // whole-corpus computation of the same per-row gate
    "stream_quality_gate" ->
      """WITH g AS (SELECT lang, n_chars,
                           CASE WHEN len(string_split(text, ' ')) >= 30
                                 AND CAST(len(list_distinct(
                                       string_split(text, ' '))) AS DOUBLE)
                                     / len(string_split(text, ' ')) >= 0.5
                                THEN 'accept' ELSE 'quarantine' END
                             AS verdict
                    FROM documents)
         SELECT verdict, lang, count(*) AS n,
                CAST(sum(n_chars) AS BIGINT) AS chars
         FROM g GROUP BY verdict, lang ORDER BY verdict, lang""",
    // incremental-view-maintenance correctness: the folded snapshot
    // must equal the one-shot batch aggregate regardless of chunking
    "stream_upsert_apply" ->
      """SELECT user_id, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total,
                max(epoch_us(ts)) AS last_us
         FROM events WHERE user_id % 5 = 0
         GROUP BY user_id ORDER BY user_id""",
    "stream_multi_microbatch_stage" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "stream_foreachbatch_stage" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total,
                count(DISTINCT CAST(ts AS DATE)) AS n_days
         FROM events GROUP BY event_type ORDER BY event_type""",
    // checkpoint restart = exactly-once: the staged union of both runs
    // must equal the plain batch aggregate over ALL events
    "stream_checkpoint_restart" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
  )
}
