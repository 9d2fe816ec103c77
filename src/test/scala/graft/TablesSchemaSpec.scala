package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFooterReader,
  ParquetReadSupport}
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, Manifest}
import graft.sources.Staging
import graft.streaming.Streaming

/** Guards the given-schema reads. Every table load passes the schema
  * that `Tables.footerSchema` reads from the file's footer. When a
  * given schema names a column the file lacks, Spark reads NULLs for
  * it and reports nothing, so each footer schema is checked against
  * the schema Spark infers for the same file. */
class TablesSchemaSpec extends GraftSuite {
  // the three fixture scales sit side by side
  private val scales = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(s => s"${new java.io.File(SparkTestBase.sf0001).getParent}/$s")

  private def tables(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted

  private def assertInferred(dir: String): Unit = {
    val names = tables(dir)
    assert(names.size == 10, s"$dir holds ${names.mkString(", ")}")
    for (t <- names) {
      val path = s"$dir/$t.parquet"
      val given = Tables.footerSchema(spark, path)
      val inferred = spark.read.parquet(path).schema
      assert(given == inferred, s"$path: footer schema $given, " +
        s"Spark infers $inferred")
    }
  }

  test("footer schema equals Spark's inferred schema for every fixture " +
      "table at every scale") {
    scales.foreach(assertInferred)
  }

  test("footer schema equals Spark's inferred schema for a Spark-written " +
      "replicate, whose footers carry Spark's row metadata") {
    val dir = Files.createTempDirectory("graft_schema_replica")
    try {
      ScaleSmoke.replicate(spark, SparkTestBase.sf0001, dir.toString, 2)
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(
        new Path(s"$dir/orders.parquet"),
        spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
      assert(footer.getFileMetaData.getKeyValueMetaData
        .containsKey(ParquetReadSupport.SPARK_METADATA_KEY))
      assertInferred(dir.toString)
    } finally Staging.deleteTree(dir)
  }

  test("footer schema of a table stored as a Spark output directory " +
      "equals Spark's inferred schema") {
    val dir = Files.createTempDirectory("graft_schema_dir")
    try {
      val path = s"$dir/orders.parquet"
      Tables.orders(spark, sf).repartition(2).write.parquet(path)
      assert(Tables.footerSchema(spark, path) == spark.read.parquet(path).schema)
      assert(Tables.orders(spark, dir.toString).count() ==
        Tables.orders(spark, sf).count())
    } finally Staging.deleteTree(dir)
  }

  test("a manifest version reads with the schema Spark infers for its " +
      "files") {
    val root = Files.createTempDirectory("graft_schema_manifest")
    try {
      val base = Tables.customer(spark, sf)
        .select(col("c_custkey"), col("c_acctbal"))
      // listed first but smaller path last: Spark infers from the
      // smallest path ("a", two columns), not from "b"'s extra column
      val files = Manifest.writeFiles(root.toString,
          base.withColumn("extra", lit(1)), "b") ++
        Manifest.writeFiles(root.toString, base, "a")
      require(Manifest.commit(root.toString, 1, files))
      assert(spark.read.parquet(files: _*).schema.fieldNames.toSeq ==
        Seq("c_custkey", "c_acctbal"))
      assert(Manifest.load(spark, root.toString, 1).schema ==
        spark.read.parquet(files: _*).schema)
      assert(Manifest.load(spark, root.toString, 1).count() ==
        2 * base.count())
    } finally Staging.deleteTree(root)
  }

  test("each file-stream key's source schema, read from the footer of " +
      "the files it just wrote, equals Spark's inferred schema") {
    // key -> the scratch directory its file stream reads
    val sources = Seq(
      "stream_quality_gate" -> "qgate_src",
      "stream_upsert_apply" -> "cdc_src",
      "stream_multi_microbatch_stage" -> "mb_src",
      "stream_checkpoint_restart" -> "ckpt_src",
      "stream_late_data_drop" -> "late_src",
      "stream_update_running_counts" -> "upd_src")
    for ((key, dir) <- sources) {
      Streaming.queries(key)(spark, sf)
      val src = Staging.scratchPath(dir)
      assert(Tables.footerSchema(spark, src) == spark.read.parquet(src).schema,
        key)
    }
  }

  test("building the table frames, the events stream and " +
      "graph_degree_distribution's frame launches no job") {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      tables(sf).foreach(Tables.load(spark, sf, _))
      Tables.events(spark, sf)
      Streaming.eventsStream(spark, sf)
      GraphOps.queries("graph_degree_distribution")(spark, sf)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs launched while building frames")
  }
}
