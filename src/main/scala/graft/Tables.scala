package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Central table loaders for the driver-generated fixtures
  * (see TESTDATA.md). All `SparkEntry.queries` closures read their
  * inputs through here so that:
  *
  *   - the `events.ts` timestamp normalization is done in exactly one
  *     place, and
  *   - at 100 TB scale the load path is a single choke-point where
  *     bucketing / table-format options would be introduced.
  *
  * Scale note: these are plain parquet scans — Catalyst pushes
  * predicates and prunes columns into the `FileScan parquet`, so the
  * operators built on top stay scan-efficient regardless of table
  * size. No caching/collect happens here.
  *
  * Schema: every load passes the schema to the reader
  * (`spark.read.schema(...)`), taken from the table file's footer by
  * [[footerSchema]] on the driver, so building a frame launches no
  * Spark job. Without it Spark infers the schema with a footer-merge
  * job per load, even for a one-file table. The footer is read again
  * on every call: one small read at the file's tail, and no cache
  * shared across keys, so each key stays hermetic. The footer grows
  * with the row groups, not the rows, and the read skips the row-group
  * metadata. A 100 TB table is many files, not the one file per table
  * these fixtures keep; its loader would read the first file's footer
  * only, which is the file Spark's own inference reads without
  * `mergeSchema` (`operators.Manifest.load` does this for a version's
  * file list).
  */
object Tables {

  /** Broadcast-hint policy for joins against these loaders: tables
    * that GROW WITH SF — customer, supplier, part, orders, lineitem,
    * documents, embeddings, events — are joined HINT-FREE. AQE's
    * runtime size check (spark.sql.autoBroadcastJoinThreshold) picks
    * a broadcast when the actual build side fits executor memory; a
    * forced broadcast() hint bypasses that check and at the 100 TB
    * design point plans an unbuildable build side. Explicit
    * broadcast() hints are reserved for frames with a PROVABLE size
    * contract independent of corpus size: fixed-cardinality spines
    * (region=5, nation=25), 1-row aggregates, and bounded synopses
    * (≤256-dim keep lists, k-row model tables). Pinned in
    * PlanShapeSpec ("sf-scaling dimension joins carry no forced
    * broadcast hints"). */

  /** The schema Spark infers for the parquet file `file`, read from its
    * footer on the driver: the Spark row schema stored in the footer's
    * metadata if a Spark writer left one, else the Parquet schema
    * converted under the session's SQL conf — the two steps of Spark's
    * own inference, without its job. When `file` is a directory (a
    * table Spark wrote), the footer is that of its first data file by
    * name, skipping the `_`- and `.`-prefixed names Spark's listing
    * skips; the files of one write share one schema. */
  private[graft] def footerSchema(spark: SparkSession, file: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(file)
    val fs = path.getFileSystem(conf)
    val status = fs.getFileStatus(path)
    val data = if (!status.isDirectory) status else fs.listStatus(path)
      .filter(f => f.isFile && !"_.".contains(f.getPath.getName.head))
      .minBy(_.getPath.getName)
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(data, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(data.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Read one fixture table. `sfDir` is e.g. /root/testdata/sf0.01 */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** The `events.parquet` fixture stores `ts` as plain `timestamp[us]`,
    * which Spark reads as TIMESTAMP_NTZ. With the session timezone
    * pinned to UTC (Verify/Bench/tests all do), casting NTZ →
    * TimestampType is wall-clock-preserving and lands on the same µs
    * instants DuckDB sees, so oracles are unaffected. Downstream
    * operators always see `ts: TimestampType` (µs, UTC). Round8Spec
    * fails the suite if a fixture ever ships another encoding. */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df // already TimestampType
    }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventsTs(load(spark, sfDir, "events"))
}
