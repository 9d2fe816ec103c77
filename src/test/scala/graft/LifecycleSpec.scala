package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.operators.{Lifecycle, Manifest}

/** Semantics + side-effect tests for the staged-table lifecycle ops. */
class LifecycleSpec extends GraftSuite {

  test("morton8 interleaves bits (corners + locality)") {
    val df = spark.range(1).select(
      Lifecycle.morton8(lit(0L), lit(0L)).as("z00"),
      Lifecycle.morton8(lit(255L), lit(255L)).as("zff"),
      Lifecycle.morton8(lit(255L), lit(0L)).as("zx"),
      Lifecycle.morton8(lit(0L), lit(255L)).as("zy"),
      Lifecycle.morton8(lit(3L), lit(5L)).as("z35"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L)
    assert(r.getLong(1) == 65535L)
    assert(r.getLong(2) == 0x5555L) // x occupies even bits
    assert(r.getLong(3) == 0xAAAAL) // y occupies odd bits
    // 3=0b011, 5=0b101 → interleave(y2x2 y1x1 y0x0) = 0b100111 = 39
    assert(r.getLong(4) == 39L)
  }

  test("sink_compaction reduces the staged file count to the size target") {
    Lifecycle.queries("sink_compaction")(spark, sf).collect()
    def parquetFiles(p: String): Int =
      Files.list(Paths.get(p)).filter(_.toString.endsWith(".parquet"))
        .count().toInt
    val nSrc = parquetFiles(sources.Staging.scratchPath("compact_src"))
    val nOut = parquetFiles(sources.Staging.scratchPath("compact_out"))
    assert(nSrc == 32, s"staged $nSrc shards")
    assert(nOut == 1, s"compacted to $nOut files (fixture << 128 MiB)")
  }

  test("stage_scd2 closes exactly the updated keys and keeps history") {
    val out = Lifecycle.queries("stage_scd2")(spark, sf).cache()
    try {
      val nBase = Tables.supplier(spark, sf).count()
      val nUpd = Tables.supplier(spark, sf)
        .filter(col("s_suppkey") % 7 === 0).count()
      // every base row survives; updated keys gain one version
      assert(out.count() == nBase + nUpd)
      assert(out.filter(col("is_current")).count() == nBase)
      // closed versions are exactly the updated keys, with valid_to=1
      val closed = out.filter(!col("is_current"))
      assert(closed.count() == nUpd)
      assert(closed.filter(col("valid_to") =!= 1).count() == 0)
      // a current version never has a valid_to
      assert(out.filter(col("is_current") && col("valid_to").isNotNull)
        .count() == 0)
    } finally out.unpersist()
  }

  test("stage_merge_upsert preserves row count: base + inserts") {
    val merged = Lifecycle.queries("stage_merge_upsert")(spark, sf)
      .agg(sum("n")).collect()(0).getLong(0)
    val base = Tables.customer(spark, sf).count()
    val inserts = Tables.customer(spark, sf)
      .filter(col("c_custkey") % 10 === 3).count()
    assert(merged == base + inserts)
  }

  test("unpivot_long emits one row per (id, measure) pair") {
    val n = Lifecycle.queries("unpivot_long")(spark, sf).count()
    val ids = Tables.part(spark, sf)
      .filter(col("p_partkey") % 10 === 0).count()
    assert(n == 2 * ids)
  }

  test("scan_schema_widening upcasts int32/float32 epochs under the " +
      "declared wide schema") {
    val out = SparkEntry.queries("scan_schema_widening")(spark, sf)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet == Set("v1_narrow", "v2_wide"))
    // v2 keys really exceed int32 range — the widening was load-bearing
    assert(out("v2_wide").getLong(3) > Int.MaxValue.toLong)
    assert(out("v1_narrow").getLong(3) <= Int.MaxValue.toLong)
    // nothing lost across the two epochs
    val total = out("v1_narrow").getLong(1) + out("v2_wide").getLong(1)
    assert(total == Tables.orders(spark, sf).count())
  }

  test("stage_acid_merge is copy-on-write: v2 re-references 3 of v1's 4 files") {
    val out = Lifecycle.queries("stage_acid_merge")(spark, sf).collect()
    val root = graft.sources.Staging.scratchPath("acidmerge")
    val Seq(v1, v2) = Seq(1, 2).map(Manifest.read(root, _).toSet)
    assert(v1.size == 4, s"v1 must hold 4 bucket files, got ${v1.size}")
    assert((v1 intersect v2).size == 3,
      "MERGE must re-reference exactly the 3 untouched bucket files")
    assert(v2.size == 5, "v2 = 3 shared + rewritten b0 + insert file")
    // snapshot isolation is part of the declared result: v1 aggregate
    // equals the raw base table even after the merge committed
    val base = Tables.customer(spark, sf)
    val v1Total = out.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    assert(v1Total == base.count(), "v1 read changed after the merge")
    val v2Total = out.filter(_.getInt(0) == 2).map(_.getLong(2)).sum
    assert(v2Total == base.count()
      + base.filter(col("c_custkey") % 8 === 3).count(),
      "v2 must hold base + inserted rows")
  }

  test("stage_acid_delete_vacuum: one superseded file, v2 survives the vacuum") {
    val out = Lifecycle.queries("stage_acid_delete_vacuum")(spark, sf).collect()
    val base = Tables.customer(spark, sf)
    val deleted = base.filter(col("c_custkey") % 8 === 0).count()
    val v1n = out.filter(_.getInt(0) == 1).map(_.getLong(2)).sum
    val v2n = out.filter(_.getInt(0) == 2).map(_.getLong(2)).sum
    assert(v1n == base.count(), "v1 must still see pre-delete rows")
    assert(v2n == base.count() - deleted, "v2 must miss exactly the deleted rows")
    // vacuum: exactly ONE data file (the superseded b0) is no longer
    // referenced by the latest manifest; removing it must not affect v2
    val root = graft.sources.Staging.scratchPath("aciddelete")
    val live = Manifest.read(root, 2).toSet
    val onDisk = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$root/data"))
      .filter(p => p.toString.endsWith(".parquet"))
      .map[String](_.toString)
      .collect(java.util.stream.Collectors.toSet[String])
    import scala.jdk.CollectionConverters._
    val orphans = onDisk.asScala.toSet -- live
    assert(orphans.size == 1, s"expected 1 vacuumable file, got $orphans")
    orphans.foreach(f => java.nio.file.Files.delete(java.nio.file.Paths.get(f)))
    assert(spark.read.parquet(live.toSeq: _*).count() == v2n,
      "v2 must read identically after the vacuum")
  }

  test("stage_manifest_compact: 8 files become 1, both versions identical") {
    val out = Lifecycle.queries("stage_manifest_compact")(spark, sf).collect()
    val root = graft.sources.Staging.scratchPath("manifestcompact")
    assert(Manifest.read(root, 1).length == 8,
      "v1 must hold the 8 small shards")
    assert(Manifest.read(root, 2).length == 1,
      "OPTIMIZE must compact to one file")
    val v1 = out.filter(_.getInt(0) == 1)
      .map(r => (r.getAs[Number](1).longValue(), r.getLong(2)))
    val v2 = out.filter(_.getInt(0) == 2)
      .map(r => (r.getAs[Number](1).longValue(), r.getLong(2)))
    assert(v1.sorted.sameElements(v2.sorted), "compaction changed content")
  }

  test("stage_time_travel pins the v1 snapshot while v2 sees the append") {
    // running the declared query also (re)creates the staged table +
    // both manifests under the scratch dir
    val v1Rows = Lifecycle.queries("stage_time_travel")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).collect()(0).getLong(0)
    val base = Tables.orders(spark, sf)
    assert(v1Rows == base.filter(col("o_orderkey") % 3 === 0).count(),
      "AS OF v1 must see exactly the v1 commit")
    // the v2 manifest covers both commits — the "current" read
    val out = graft.sources.Staging.scratchPath("timetravel")
    val v2Rows = Manifest.load(spark, out, 2).count()
    assert(v2Rows ==
      base.filter(col("o_orderkey") % 3 === 0 ||
        col("o_orderkey") % 3 === 1).count(),
      "v2 must see v1 + the append")
  }
}
