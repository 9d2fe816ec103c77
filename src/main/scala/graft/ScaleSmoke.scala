package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.Staging

/** Scale-up smoke: time board keys (`SparkEntry.queries`, the shipped
  * plans) on the fixture and on a K×-replicated copy of it (default
  * K = 16 from sf0.1), and print each key's ratio. Near-linear growth
  * is the pass signal; superlinear growth flags a key that would not
  * survive a real scale-up.
  *
  * Replication rule, one for every table: copy `i` in `0 until K` adds
  * `i × stride` to every int64 column named `*key` or `*_id`, where
  * `stride` is the smallest power of ten above the largest such id in
  * the source. Tables with no such column (region, nation) are copied
  * once. So graphs, cells and users grow as disjoint id spaces, text
  * and vectors repeat, and foreign keys stay clean.
  *
  * Layout: one parquet file per table, `<table>.parquet`, as in the
  * source fixture. The streaming keys read `events.*` and
  * `documents.*` globs, which match exactly that one file.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [K]
  */
object ScaleSmoke {

  /** Timed keys: the heavy operator families (scan-agg, shuffle join,
    * window top-k, dedup, global rank, interval join, text, similarity,
    * graph, spatial, time series, pattern) plus the two checkpoint-for-
    * scans keys (`text_bm25_retrieval`, `pipeline_training_mix_e2e`). */
  private[graft] val keys: Seq[String] = Seq(
    "agg_pricing_summary", "join_shuffle_large",
    "window_rank_topk_per_group", "dedup_exact", "topk_order_limit",
    "stage_merge_upsert", "sample_pps_systematic", "window_cume_dist",
    "join_interval_bucketed", "text_sequence_pack", "sim_lsh_ann",
    "text_substring_dedup_chars", "graph_triangle_count",
    "spatial_knn_grid", "dedup_semantic_cluster", "sim_pq_ann",
    "pipeline_chunk_embed_e2e", "graph_kcore", "timeseries_theil_sen",
    "sim_graph_ann", "text_bpe_train_rounds", "graph_betweenness_khop",
    "window_pattern_kstep", "text_bm25_retrieval",
    "pipeline_training_mix_e2e")

  private def idColumns(df: DataFrame): Seq[String] =
    df.schema.fields.toSeq.collect {
      case f if f.dataType == LongType &&
        (f.name.endsWith("key") || f.name.endsWith("_id")) => f.name
    }

  /** Writes `k` copies of every table under `src` into `dst` by the
    * replication rule above. */
  private[graft] def replicate(spark: SparkSession, src: String, dst: String,
      k: Int): Unit = {
    val frames = new java.io.File(src).listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
      .map(t => t -> Tables.load(spark, src, t))
    val maxId = frames.flatMap { case (_, df) =>
      val ids = idColumns(df)
      if (ids.isEmpty) Nil
      else df.select(ids.map(c => max(col(c))): _*).head().toSeq
        .map(_.asInstanceOf[Long])
    }.max
    val stride = Iterator.iterate(1L)(_ * 10).find(_ > maxId).get
    frames.foreach { case (t, df) =>
      val ids = idColumns(df)
      val copies = if (ids.isEmpty) 1 else k
      val out = (0 until copies).map { i =>
        df.select(df.columns.toSeq.map(c =>
          if (ids.contains(c)) (col(c) + lit(i * stride)).as(c) else col(c)): _*)
      }.reduce(_ unionByName _)
      val stage = Paths.get(dst, s"_stage_$t")
      out.coalesce(1).write.parquet(stage.toString)
      val part = stage.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.move(part.toPath, Paths.get(dst, s"$t.parquet"))
      Staging.deleteTree(stage)
    }
  }

  /** Min-of-2 wall seconds of `fn(spark, dir).count()`: late keys in a
    * long session otherwise pay GC and block-manager pressure left by
    * earlier ones, and the metric is the key's asymptotic cost. */
  private def seconds(spark: SparkSession, key: String, dir: String): Double =
    (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(key)(spark, dir).count()
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val k = if (args.length > 1) args(1).toInt else 16
    val spark = Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val dir = Files.createTempDirectory("graft_scale_fixture")
    try {
      spark.range(1000000L).selectExpr("sum(id)").collect() // warm-up
      replicate(spark, sfDir, dir.toString, k)
      println(f"${"key"}%-28s ${"x1"}%8s ${"x" + k}%8s  ratio (linear ~ $k)")
      keys.foreach { key =>
        val s1 = seconds(spark, key, sfDir)
        val sk = seconds(spark, key, dir.toString)
        println(f"$key%-28s $s1%7.2fs $sk%7.2fs  ${sk / s1}%5.1fx")
      }
    } finally {
      Staging.deleteTree(dir)
      spark.stop()
    }
  }
}
