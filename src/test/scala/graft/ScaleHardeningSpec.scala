package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.Lifecycle

/** 100 TB hardening demonstrations (VERDICT r5 items 6-7). These are
  * spec-level only — no declared keys — because both rely on runtime
  * physical-plan behavior (AQE re-planning, row-group statistics) that
  * is nondeterministic across layouts and so not oracle-mirrorable.
  *
  * 1. AQE skew-join split: manufacture one shuffle partition carrying
  *    ~99 % of the left side and assert the ADAPTIVE plan actually
  *    split it (SortMergeJoin(skew=true)). `join_skew_salted` shows the
  *    deterministic manual technique; this proves the runtime safety
  *    net engages when a key the salting didn't anticipate blows up.
  * 2. Z-order pruning effectiveness: prove the morton-interleaved sort
  *    key (`sink_zorder_curve`'s layout) lets parquet row-group
  *    statistics skip >50 % of the data for selective predicates on
  *    EITHER clustered dimension, while the same predicate on a
  *    hash-scattered control layout reads everything. The scan metric
  *    `numOutputRows` counts rows surviving row-group pruning (the
  *    row-level filter runs above the scan), so it measures exactly
  *    what min/max stats skipped.
  * 3. ScaleSmoke's K× fixture replicator: row counts, id uniqueness,
  *    foreign keys, and board keys (batch and streaming) run on it.
  */
class ScaleHardeningSpec extends GraftSuite {

  test("AQE splits a manufactured skewed partition in the executed plan") {
    SessionScope.withConf(spark)(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "100KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // 99% of the left side lands on key 0; md5 payloads keep the
      // shuffle blocks incompressible enough to trip the threshold
      val left = spark.range(200000L).select(
        when(col("id") < 198000L, 0L).otherwise(col("id") % 100).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = spark.range(100L).select(
        col("id").as("k"), md5(col("id").cast("string")).as("rpay"))
      // min(payload) keeps the fat column alive through the shuffle —
      // column pruning would otherwise reduce the left side to bare
      // keys and the partition never crosses the skew threshold
      val joined = left.join(right, "k")
        .agg(count(lit(1)).as("n"), min(col("payload")).as("minp"),
          count(col("rpay")).as("nr"))
      val n = joined.collect()(0).getLong(0)
      assert(n == 200000L, s"join row count wrong: $n")
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    }
  }

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no parquet scan in plan")
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("z-order layout prunes >50% of row groups on BOTH dimensions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zprune")
    try {
      // Scale p_size (1..50) to use the full 8-bit range so the two
      // morton dimensions interleave with comparable weight — 16 zkey
      // range files then constrain ~2 high bits of EACH dimension.
      val src = Tables.part(spark, SparkTestBase.sf001).select(
        col("p_partkey"),
        (col("p_size") * 5).cast("long").as("a"),
        pmod(col("p_partkey"), lit(256)).cast("long").as("b"))
      val total = src.count()
      src.withColumn("zkey", Lifecycle.morton8(col("a"), col("b")))
        .repartitionByRange(16, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(s"$dir/z")
      // control: identical rows, hash-scattered — every file's min/max
      // spans the whole domain, so stats can never skip anything
      src.repartition(16, col("p_partkey"))
        .write.mode("overwrite").parquet(s"$dir/flat")

      def readZ = spark.read.parquet(s"$dir/z")
      def readFlat = spark.read.parquet(s"$dir/flat")
      val onA = scanOutputRows(readZ.filter(col("a") === 15L))
      val onB = scanOutputRows(readZ.filter(col("b") === 7L))
      val flatA = scanOutputRows(readFlat.filter(col("a") === 15L))
      assert(onA < total / 2,
        s"dimension a: z-scan read $onA of $total rows (no pruning win)")
      assert(onB < total / 2,
        s"dimension b: z-scan read $onB of $total rows (no pruning win)")
      assert(flatA >= total * 9 / 10,
        s"control layout unexpectedly pruned ($flatA of $total) — " +
          "the comparison no longer isolates the z-order effect")
      assert(onA < flatA && onB < flatA,
        s"z-order layout not better than control: a=$onA b=$onB flat=$flatA")
    } finally sources.Staging.deleteTree(dir)
  }

  test("ScaleSmoke.replicate: K=2 doubles the sf-scaling tables with " +
      "unique ids, clean foreign keys and runnable board keys") {
    val src = SparkTestBase.sf0001
    val dir = java.nio.file.Files.createTempDirectory("graft_replica")
    val rep = dir.toString
    try {
      ScaleSmoke.replicate(spark, src, rep, 2)
      val tables = new java.io.File(src).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(tables.length == 10, tables.toSeq)
      tables.foreach { t =>
        val n = Tables.load(spark, src, t).count()
        val want = if (t == "region" || t == "nation") n else 2 * n
        assert(Tables.load(spark, rep, t).count() == want, s"$t rows")
      }
      Seq("events" -> "event_id", "documents" -> "doc_id",
          "embeddings" -> "vec_id", "orders" -> "o_orderkey",
          "customer" -> "c_custkey", "part" -> "p_partkey",
          "supplier" -> "s_suppkey").foreach { case (t, c) =>
        Seq(src, rep).foreach { d =>
          val ids = Tables.load(spark, d, t).select(c)
          assert(ids.distinct().count() == ids.count(), s"$d $t.$c unique")
        }
      }
      val orphans = Tables.lineitem(spark, rep).join(Tables.orders(spark, rep),
        col("l_orderkey") === col("o_orderkey"), "left_anti").count()
      assert(orphans == 0L, s"$orphans lineitem rows without an order")

      def groupCounts(d: String) =
        SparkEntry.queries("agg_pricing_summary")(spark, d).collect()
          .map(r => (r.getAs[String]("l_returnflag"),
            r.getAs[String]("l_linestatus")) -> r.getAs[Long]("count_order"))
          .toMap
      val one = groupCounts(src)
      assert(one.nonEmpty)
      assert(groupCounts(rep) == one.map { case (g, n) => g -> 2 * n })

      // a streaming key reads the `events.*` glob: the replicated
      // directory must hold exactly one events file
      def userCounts(d: String) =
        SparkEntry.queries("stream_stateful_counter")(spark, d).collect()
          .map(_.getAs[Long]("n")).toSeq.sorted
      val perUser = userCounts(src)
      assert(perUser.nonEmpty)
      assert(userCounts(rep) == (perUser ++ perUser).sorted)

      assert(ScaleSmoke.keys.toSet -- SparkEntry.queries.keySet ==
        Set.empty[String])
    } finally sources.Staging.deleteTree(dir)
  }
}
