package graft.operators

import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.nio.file.StandardOpenOption.CREATE_NEW

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The manifest mini-format under the `stage_*` table-format keys: a
  * table root holds its parquet files under `data/` and one text file
  * `manifest_v<N>.txt` per version, listing the sorted absolute path
  * of every file visible in version N, one per line. A version, once
  * committed, is never rewritten. */
private[graft] object Manifest {
  /** Sorted absolute paths of the parquet files directly in `dir`. */
  def files(dir: String): Seq[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted.toSeq

  /** Write `df` as one file into `root/data/sub` (overwriting it). */
  def writeFiles(root: String, df: DataFrame, sub: String): Seq[String] = {
    val dir = s"$root/data/$sub"
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    files(dir)
  }

  private def path(root: String, v: Int) = Paths.get(s"$root/manifest_v$v.txt")

  /** Publish version `v`; false if `v` already exists (a concurrent
    * writer won it). The existence check and the create are one
    * atomic step (CREATE_NEW). */
  def commit(root: String, v: Int, paths: Seq[String]): Boolean =
    try {
      Files.writeString(path(root, v), paths.mkString("\n"), CREATE_NEW)
      true
    } catch { case _: FileAlreadyExistsException => false }

  /** The file paths of version `v`. */
  def read(root: String, v: Int): Seq[String] =
    Files.readString(path(root, v)).split("\n").toSeq

  /** Version `v` as a frame. Its schema is the footer schema of the
    * version's smallest path (Tables.footerSchema), the file Spark's
    * own inference reads without `mergeSchema`; the files of a table
    * share one schema, so reading the frame launches no schema job. */
  def load(spark: SparkSession, root: String, v: Int): DataFrame = {
    val paths = read(root, v)
    spark.read.schema(Tables.footerSchema(spark, paths.min)).parquet(paths: _*)
  }
}

/** Staged-table lifecycle operators (SURVEY.md §2.11):
  * the mutations and maintenance jobs every staging engine needs once
  * tables live longer than one batch — upsert (MERGE), SCD-2
  * versioning, small-file compaction, z-order clustering — plus the
  * reshaping (unpivot) and data-quality profiling ops that sit beside
  * them in a curation pipeline.
  *
  * Scale notes (100 TB):
  * - MERGE is anti-join + union: one shuffle on the merge key; with a
  *   bucketed base table the anti-join is co-located, and a small
  *   update batch broadcasts (AQE picks this up from size stats).
  * - SCD-2 closes/opens versions with one semi- and one anti-join
  *   against the update batch's keys — never a full-history rewrite;
  *   on a partitioned base only partitions containing updated keys
  *   need rewriting.
  * - Compaction reads N small files and writes ceil(bytes/128 MiB)
  *   files via coalesce — no shuffle, no sort; the classic repair for
  *   streaming-ingest small-file buildup.
  * - Z-order interleaves the bits of two key columns so ONE sort key
  *   clusters BOTH dimensions: range-partition + sort by the morton
  *   key gives row-group min/max pruning on either predicate column.
  *   The bit-spread is 6 codegen'd integer ops per row — no UDF.
  * - Profiling is a single aggregation pass computing every column's
  *   stats at once (never one scan per column).
  */
object Lifecycle {
  type Q = (SparkSession, String) => DataFrame

  /** The copy-on-write MERGE fixture of `stage_acid_merge` under
    * `out`: v1 commits `customer` as 4 bucket files (c_custkey % 4);
    * v2 rewrites bucket 0 with acctbal+100 where c_custkey % 8 = 0
    * (only bucket 0 holds such keys, so only its file changes), adds an insert file of mirrored rows for c_custkey % 8 = 3, and
    * re-references the 3 untouched bucket files. */
  private def mergeFixture(s: SparkSession, d: String, out: String): Unit = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val v1Files = (0 to 3).flatMap(b => Manifest.writeFiles(out,
      base.filter(pmod(col("c_custkey"), lit(4)) === b), s"b$b"))
    require(Manifest.commit(out, 1, v1Files))
    val newB0 = base.filter(pmod(col("c_custkey"), lit(4)) === 0)
      .withColumn("c_acctbal",
        when(col("c_custkey") % 8 === 0, col("c_acctbal") + 100)
          .otherwise(col("c_acctbal")))
    val inserts = base.filter(col("c_custkey") % 8 === 3)
      .select((-col("c_custkey")).as("c_custkey"), col("c_nationkey"),
        lit(7.77).as("c_acctbal"))
    val untouched = v1Files.filterNot(_.contains("/b0/"))
    require(Manifest.commit(out, 2, untouched
      ++ Manifest.writeFiles(out, newB0, "b0_v2")
      ++ Manifest.writeFiles(out, inserts, "ins_v2")))
  }

  /** Spread the low 8 bits of `c` to even bit positions (morton
    * encode step): 3 shift-or-mask rounds, all codegen'd. Input is
    * masked to 8 bits first — wider values would otherwise leak high
    * bits through the spread masks and collide silently. */
  private def spread8(in: Column): Column = {
    val c = in.bitwiseAND(lit(0xFFL))
    val s1 = c.bitwiseOR(shiftleft(c, 4)).bitwiseAND(lit(0x0F0FL))
    val s2 = s1.bitwiseOR(shiftleft(s1, 2)).bitwiseAND(lit(0x3333L))
    s2.bitwiseOR(shiftleft(s2, 1)).bitwiseAND(lit(0x5555L))
  }

  /** 16-bit morton (z-order) key of two 8-bit values. */
  private[graft] def morton8(x: Column, y: Column): Column =
    spread8(x).bitwiseOR(shiftleft(spread8(y), 1))

  /** Order-8 Hilbert distance of (`hx`, `hy`) ∈ [0,255]² → `hkey`.
    * The classic xy→d walk (8 unrolled reflect-rotate steps),
    * materialized as a COLUMN CHAIN — each step's (d, x, y) is one
    * projection over the previous step's columns, so the expression
    * tree stays linear (a nested-Column formulation doubles the tree
    * per step: x and y each reference BOTH prior coordinates).
    * Pure integer ops end to end — bit-identical in the DuckDB
    * oracle's chained-CTE mirror. */
  private[graft] def withHilbert8(df0: DataFrame): DataFrame = {
    var df = df0.withColumn("_hd", lit(0L))
      .withColumn("_hx", col("hx")).withColumn("_hy", col("hy"))
    for (s <- Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L)) {
      df = df
        .withColumn("_rx",
          when(col("_hx").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("_ry",
          when(col("_hy").bitwiseAND(lit(s)) > 0, 1L).otherwise(0L))
        .withColumn("_hd", col("_hd") + lit(s * s) *
          (lit(3L) * col("_rx")).bitwiseXOR(col("_ry")))
        // ry=0: reflect when rx=1, then swap; ry=1: keep
        .withColumn("_nx", when(col("_ry") === 0,
          when(col("_rx") === 1, lit(s - 1) - col("_hy"))
            .otherwise(col("_hy"))).otherwise(col("_hx")))
        .withColumn("_ny", when(col("_ry") === 0,
          when(col("_rx") === 1, lit(s - 1) - col("_hx"))
            .otherwise(col("_hx"))).otherwise(col("_hy")))
        .withColumn("_hx", col("_nx")).withColumn("_hy", col("_ny"))
        .drop("_nx", "_ny")
    }
    df.withColumnRenamed("_hd", "hkey")
      .drop("_hx", "_hy", "_rx", "_ry")
  }

  val queries: Map[String, Q] = Map(
    // MERGE INTO (upsert) semantics without a table format: the
    // update batch wins on matched keys (anti-join keeps only
    // unmatched base rows), unmatched update rows are inserts. The
    // batch is derived deterministically from the fixture (%10==0 →
    // update, %10==3 negated → insert: base keys are positive at
    // every scale, so negative keys can never collide) so DuckDB can
    // rebuild it.
    "stage_merge_upsert" -> ((s, d) => {
      val base = Tables.customer(s, d)
        .select("c_custkey", "c_nationkey", "c_acctbal")
      val upd = base.filter(col("c_custkey") % 10 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 100)
        .unionByName(base.filter(col("c_custkey") % 10 === 3)
          .select((-col("c_custkey")).as("c_custkey"),
            col("c_nationkey"), lit(7.77).as("c_acctbal")))
      val merged = upd.unionByName(
        base.join(upd.select("c_custkey"), Seq("c_custkey"), "left_anti"))
      merged.groupBy("c_nationkey")
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"))
        .orderBy("c_nationkey")
    }),

    // SCD type-2 versioning: an update batch (keys %7==0, new
    // acctbal) closes the matched base versions (valid_to = batch 1,
    // no longer current) and opens new ones; unmatched base rows stay
    // open. Output is the full versioned dimension.
    "stage_scd2" -> ((s, d) => {
      val base = Tables.supplier(s, d).select("s_suppkey", "s_acctbal")
      val upd = base.filter(col("s_suppkey") % 7 === 0)
        .withColumn("s_acctbal", col("s_acctbal") + 50)
      val updKeys = upd.select("s_suppkey")
      val closed = base.join(updKeys, Seq("s_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_acctbal"),
          lit(0).as("valid_from"), lit(1).as("valid_to"),
          lit(false).as("is_current"))
      val open = base.join(updKeys, Seq("s_suppkey"), "left_anti")
        .select(col("s_suppkey"), col("s_acctbal"),
          lit(0).as("valid_from"), lit(null).cast("int").as("valid_to"),
          lit(true).as("is_current"))
      val opened = upd
        .select(col("s_suppkey"), col("s_acctbal"),
          lit(1).as("valid_from"), lit(null).cast("int").as("valid_to"),
          lit(true).as("is_current"))
      closed.unionByName(open).unionByName(opened)
        .orderBy("s_suppkey", "valid_from")
    }),

    // Wide→long reshaping (melt): the inverse of pivot_wide. Values
    // unified to double before unpivot (mixed-type melt is a schema
    // error, not a cast). Per-row generator — no shuffle at all.
    "unpivot_long" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") % 10 === 0)
        .select(col("p_partkey"),
          col("p_retailprice").as("retailprice"),
          col("p_size").cast("double").as("size"))
        .unpivot(Array(col("p_partkey")),
          Array(col("retailprice"), col("size")), "var", "val")
        .orderBy("p_partkey", "var")
    }),

    // Column profiling (completeness + cardinality per column) in ONE
    // aggregation pass over the table, stacked to one row per column —
    // the data-quality primitive; never a scan per column.
    "profile_columns" -> ((s, d) => {
      Tables.customer(s, d).agg(
          count(lit(1)).as("n_rows"),
          count(col("c_name")).as("nn_name"),
          countDistinct(col("c_name")).as("nd_name"),
          count(col("c_acctbal")).as("nn_bal"),
          countDistinct(col("c_acctbal")).as("nd_bal"),
          count(col("c_mktsegment")).as("nn_seg"),
          countDistinct(col("c_mktsegment")).as("nd_seg"))
        .selectExpr(
          """stack(3,
               'c_acctbal',    n_rows - nn_bal,  nd_bal,
               'c_mktsegment', n_rows - nn_seg,  nd_seg,
               'c_name',       n_rows - nn_name, nd_name)
             AS (col_name, n_nulls, n_distinct)""")
        .orderBy("col_name")
    }),

    // Exact stratified sample: ceil(10%) of every o_orderstatus
    // stratum, rows chosen deterministically (lowest keys first).
    // Both window expressions share ONE spec (the count uses an
    // unbounded frame over the same ordered spec), so they plan as a
    // single Window operator — one shuffle, one sort, no join-back;
    // sampling never changes stratum proportions however skewed the
    // strata.
    // Systematic (every-k-th) sampling per stratum: rank docs inside
    // each language by id and keep rank ≡ 1 (mod 10) — the
    // classic survey-sampling design beside the hash split
    // (deterministic, evenly spread over the key range, exactly ⌈n/10⌉
    // per stratum). The rank window sorts within strata only; the
    // declared result fingerprints the selected membership.
    "sample_systematic_every_k" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
      Tables.documents(s, d)
        .withColumn("rn", row_number().over(w))
        .filter(pmod(col("rn"), lit(10)) === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_selected"),
          sum(col("doc_id")).cast("bigint").as("id_fingerprint"),
          max("rn").as("max_rank"))
        .orderBy("lang")
    }),

    "sample_stratified_exact" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderstatus").orderBy("o_orderkey")
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .withColumn("n_stratum", count(lit(1)).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
        .filter(col("rn") <= ceil(col("n_stratum") * 0.1))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_sampled"),
          max(col("n_stratum")).as("n_stratum"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("sampled_total"))
        .orderBy("o_orderstatus")
    }),

    // Small-file compaction: stage the fixture as 32 shards, then
    // compact to ceil(bytes / 128 MiB) files (floor 1) with coalesce —
    // content fingerprint proves the rewrite is lossless;
    // LifecycleSpec asserts the file count actually dropped.
    "sink_compaction" -> ((s, d) => {
      val src = graft.sources.Staging.tmpDir("compact_src")
      val out = graft.sources.Staging.tmpDir("compact_out")
      Tables.events(s, d).repartition(32)
        .write.mode("overwrite").parquet(src)
      val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
      val bytes = fs.listStatus(new Path(src))
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
      val target = math.max(1, math.ceil(bytes / (128.0 * 1024 * 1024)).toInt)
      s.read.parquet(src).coalesce(target)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 4)
            .as("total"))
        .orderBy("event_type")
    }),

    // Z-order clustered sink: morton-interleave (p_size, p_partkey%256)
    // into one sort key, range-partition + sort the write by it, and
    // fingerprint the read-back per z-bucket. Predicates on EITHER
    // source column prune row groups after this layout.
    // Manifest-based TIME TRAVEL — the table-format
    // primitive Delta/Iceberg provide, built from scratch over plain
    // parquet: each commit appends data files and writes an immutable
    // manifest v{N} listing every file visible in that snapshot.
    // Readers pin a manifest, so concurrent appends never tear a
    // query (snapshot isolation) and any historical version stays
    // queryable as long as its files live. At 100 TB the manifest
    // lists files + stats (cf. sink_stats_manifest) and the version
    // read prunes through it instead of listing the directory — the
    // declared query reads "AS OF v1" AFTER a v2 append landed and
    // must see only v1 content.
    "stage_time_travel" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("timetravel")
      val dataDir = s"$out/data"
      val base = Tables.orders(s, d)
      // each commit appends into the one data directory and lists it
      for (v <- 1 to 2) {
        base.filter(col("o_orderkey") % 3 === v - 1)
          .write.mode("append").parquet(dataDir)
        require(Manifest.commit(out, v, Manifest.files(dataDir)))
      }
      Manifest.load(s, out, 1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
        .orderBy("o_orderstatus")
    }),

    // Copy-on-write MERGE on the manifest mini-format — the
    // second table-format primitive after `stage_time_travel`'s
    // snapshot reads: a MERGE commit rewrites ONLY the data files
    // holding matched rows, appends an insert file, and publishes a
    // new manifest that re-references every untouched file. v1 stays
    // byte-identical and readable after the merge (the declared
    // result carries BOTH versions, so snapshot isolation is part of
    // the hash-checked semantics, not a side assertion). Files are
    // bucketed by c_custkey % 4 and the update predicate
    // (c_custkey % 8 = 0) only hits bucket 0, so the commit rewrites
    // 1 of 4 data files — at 100 TB this file-level pruning is why
    // MERGE costs O(matched files), not O(table). LifecycleSpec
    // asserts v2's manifest re-references 3 of v1's 4 files.
    "stage_acid_merge" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("acidmerge")
      mergeFixture(s, d, out)
      def agg(v: Int): DataFrame =
        Manifest.load(s, out, v).groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(v).as("version"), col("c_nationkey"), col("n"),
            col("total"))
      agg(1).unionAll(agg(2)).orderBy("version", "c_nationkey")
    }),

    // RESTORE / rollback-to-version — the recovery primitive
    // completing the manifest mini-format's set (snapshot read / CoW
    // MERGE / DELETE+VACUUM / OPTIMIZE / CDC / RESTORE): after a bad
    // commit lands as v2, RESTORE publishes manifest v3 whose file
    // list IS v1's — metadata-only, zero data files copied or
    // rewritten (O(manifest), not O(table) — the Delta RESTORE
    // semantics), and v2 stays readable for forensics until a vacuum
    // reclaims it. The declared result reads v3 AND v2, so "v3 equals
    // v1 while the bad file still exists and v2 still sees it" is
    // hash-checked semantics, not a side assertion.
    "stage_manifest_restore" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("restore")
      val base = Tables.orders(s, d)
      val v1Files = Manifest.writeFiles(out,
        base.filter(col("o_orderkey") % 3 === 0), "good")
      require(Manifest.commit(out, 1, v1Files))
      // the bad commit: a miscomputed batch lands as v2
      require(Manifest.commit(out, 2, v1Files ++ Manifest.writeFiles(out,
        base.filter(col("o_orderkey") % 3 === 1)
          .withColumn("o_totalprice", col("o_totalprice") * -1), "bad")))
      // RESTORE to v1: republish v1's file list
      require(Manifest.commit(out, 3, v1Files))
      def agg(v: Int): DataFrame =
        Manifest.load(s, out, v).groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(v).as("version"), col("o_orderstatus"), col("n"),
            col("total"))
      agg(2).unionAll(agg(3)).orderBy("version", "o_orderstatus")
    }),

    // PARTITION EVOLUTION — the Iceberg capability the mini-
    // format was still missing: the partition spec changes for NEW
    // data only (spec1 = custkey%2 buckets → spec2 = custkey%4),
    // old files are NEVER rewritten, and each file prunes under THE
    // SPEC IT WAS WRITTEN WITH. A predicate on the partition source
    // column opens 1 of 2 spec1 files + 1 of 4 spec2 files = 2 of 6;
    // at 100 TB this is why a spec change is a metadata operation,
    // not a table rewrite. The declared result carries the pruned
    // read's aggregate PLUS the files_opened/files_total accounting
    // (derived from the same bucket arithmetic the oracle mirrors),
    // so both the answer and the pruning math are hash-checked;
    // LifecycleSpec asserts the pruned read's plan really opens
    // fewer files.
    "stage_partition_evolution" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("partevo")
      val o = Tables.orders(s, d)
      // v1 under spec1: old data bucketed by o_custkey % 2
      val spec1 = (0 to 1).map(b => b ->
        Manifest.writeFiles(out, o.filter(col("o_orderkey") % 2 === 0)
          .filter(pmod(col("o_custkey"), lit(2)) === b), s"s1_b$b"))
      // v2 appends new data under spec2: o_custkey % 4 — old files kept
      val spec2 = (0 to 3).map(b => b ->
        Manifest.writeFiles(out, o.filter(col("o_orderkey") % 2 === 1)
          .filter(pmod(col("o_custkey"), lit(4)) === b), s"s2_b$b"))
      // manifest: (spec, bucket) -> files; query predicate custkey%4=1
      // prunes per spec: spec1 keeps bucket 1%2, spec2 keeps bucket 1
      val opened = spec1.filter(_._1 == 1 % 2).flatMap(_._2) ++
        spec2.filter(_._1 == 1).flatMap(_._2)
      val total = spec1.flatMap(_._2) ++ spec2.flatMap(_._2)
      s.read.parquet(opened: _*)
        .filter(pmod(col("o_custkey"), lit(4)) === 1)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
        .withColumn("files_opened", lit(opened.size))
        .withColumn("files_total", lit(total.size))
        .orderBy("o_orderstatus")
    }),

    // OPTIMISTIC CONCURRENT APPEND — the commit protocol that
    // makes the manifest format multi-writer: writers A and B both
    // prepare appends against v1; A wins the v2 commit; B's attempt
    // detects v2 exists (atomic create-new fails), REBASES by
    // re-reading the latest manifest, re-validates (append-only ⇒ no
    // logical conflict), and commits v3 = v2.files + B.files. Data
    // files are written ONCE — the retry re-publishes metadata only
    // (O(manifest), the Delta/Iceberg commit-retry semantics). The
    // declared result reads all three versions, so "no lost update,
    // no double append" is hash-checked: v3 = base + A + B each
    // exactly once.
    "stage_concurrent_append" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("concappend")
      val o = Tables.orders(s, d)
      def stage(m: Int, sub: String): Seq[String] = Manifest.writeFiles(out,
        o.filter(col("o_orderkey") % 3 === m), sub)
      val baseF = stage(0, "base")
      require(Manifest.commit(out, 1, baseF))
      // both writers snapshot v1 and stage their data files
      val aF = stage(1, "wa")
      val bF = stage(2, "wb")
      // writer A commits v2 first
      require(Manifest.commit(out, 2, baseF ++ aF))
      // writer B: v2 attempt fails -> rebase onto latest and retry
      if (!Manifest.commit(out, 2, baseF ++ bF))
        require(Manifest.commit(out, 3, Manifest.read(out, 2) ++ bF))
      def agg(v: Int): DataFrame =
        Manifest.load(s, out, v)
          .agg(count(lit(1)).as("n"),
            round(sum(col("o_totalprice").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(v).as("version"), col("n"), col("total"))
      agg(1).unionAll(agg(2)).unionAll(agg(3)).orderBy("version")
    }),

    // ORPHAN-FILE GC — the crash-debris cleanup completing the
    // vacuum story: stage_acid_delete_vacuum reclaims files old
    // VERSIONS reference; this reclaims files NO manifest references
    // (failed writes, aborted tasks). GC plan = directory listing
    // minus the union of all live manifests — pure metadata; the
    // declared result proves every referenced row survives the sweep
    // and counts the orphans removed. At 100 TB this runs from the
    // manifest store without touching a single data byte.
    "stage_orphan_file_gc" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("orphangc")
      val o = Tables.orders(s, d)
      require(Manifest.commit(out, 1, Manifest.writeFiles(out,
        o.filter(col("o_orderkey") % 2 === 0), "live")))
      // crash debris: files written but never committed to a manifest
      Manifest.writeFiles(out, o.filter(col("o_orderkey") % 2 === 1), "tmp1")
      Manifest.writeFiles(out, o.limit(0), "tmp2")
      val manifest = Manifest.read(out, 1).toSet
      val onDisk = new java.io.File(s"$out/data").listFiles().toSeq
        .flatMap(dir => Manifest.files(dir.getPath))
      val orphans = onDisk.filterNot(manifest)
      orphans.foreach(p => Files.delete(Paths.get(p)))
      s.read.parquet(manifest.toSeq: _*)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
        .withColumn("n_orphans_removed", lit(orphans.length))
        .orderBy("o_orderstatus")
    }),

    // INCREMENTAL file-level read — the append-only "stream a
    // table" primitive cheaper than full CDC: the consumer remembers
    // the last manifest it processed and reads ONLY files(v2) −
    // files(v1) — a metadata set-difference, zero data compared
    // (stage_manifest_cdc row-diffs for the update/delete case; this
    // is the fast path when commits are append-only). The declared
    // result is the incremental aggregate, which must equal the
    // appended batch exactly.
    "stage_incremental_file_read" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("incread")
      val o = Tables.orders(s, d)
      val v1 = Manifest.writeFiles(out,
        o.filter(col("o_orderkey") % 3 === 0), "b0")
      val v2 = v1 ++ Manifest.writeFiles(out,
        o.filter(col("o_orderkey") % 3 === 1), "b1")
      val increment = v2.diff(v1) // metadata-only determination
      s.read.parquet(increment: _*)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
        .withColumn("n_files_read", lit(increment.size))
        .withColumn("n_files_total", lit(v2.size))
        .orderBy("o_orderstatus")
    }),

    // MERGE-ON-READ deletes — the deletion-vector/positional-
    // delete strategy beside the CoW path (stage_acid_delete_vacuum
    // rewrites files immediately): a delete commit APPENDS a
    // tombstone sidecar (O(deleted keys), no data file touched);
    // snapshot reads anti-join the tombstones (the read-time merge);
    // a later compaction materializes the deletes and drops the
    // sidecar (back to CoW economics when the table is read-hot).
    // The declared result reads all three states — pre-delete, MoR,
    // post-compaction — and MoR ≡ compacted is the hash-checked
    // equivalence that justifies deferring the rewrite at 100 TB.
    "stage_merge_on_read_deletes" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("mordel")
      val base = s"$out/base"
      val tomb = s"$out/tombstones"
      val compacted = s"$out/compacted"
      val c = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      c.write.mode("overwrite").parquet(base)
      // delete commit: keys %7==0 tombstoned, data files untouched
      c.filter(col("c_custkey") % 7 === 0)
        .select(col("c_custkey").as("del_key"))
        .write.mode("overwrite").parquet(tomb)
      def mor: DataFrame = s.read.parquet(base)
        .join(s.read.parquet(tomb),
          col("c_custkey") === col("del_key"), "left_anti")
      // compaction: materialize the merge, drop the sidecar
      mor.write.mode("overwrite").parquet(compacted)
      def agg(df: DataFrame, st: String): DataFrame =
        df.groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(st).as("state"), col("c_nationkey"), col("n"),
            col("total"))
      agg(s.read.parquet(base), "1_pre")
        .unionAll(agg(mor, "2_mor"))
        .unionAll(agg(s.read.parquet(compacted), "3_compacted"))
        .orderBy("state", "c_nationkey")
    }),

    // SHALLOW CLONE — Delta's zero-copy table fork: the clone's
    // v1 manifest IS the source's file list (no data copied — a
    // metadata write, O(manifest) at any table size); subsequent
    // clone commits append files the source never sees. The declared
    // result reads source, clone@v1, clone@v2: equal-then-diverged
    // is hash-checked, proving both the zero-copy share and the
    // isolation of the fork. This is how a 100 TB experiment branch
    // is created in milliseconds.
    "stage_clone_shallow" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("shallowclone")
      // two tables, one shared data directory under `out`
      val Seq(src, clone) = Seq("src", "clone")
        .map(t => Files.createDirectories(Paths.get(out, t)).toString)
      val c = Tables.customer(s, d)
      val srcFiles = Manifest.writeFiles(out,
        c.filter(col("c_custkey") % 2 === 0), "src")
      require(Manifest.commit(src, 1, srcFiles))
      // shallow clone: same files, new ref
      require(Manifest.commit(clone, 1, srcFiles))
      // the clone diverges: an experiment append lands only on the fork
      require(Manifest.commit(clone, 2, srcFiles ++ Manifest.writeFiles(out,
        c.filter(col("c_custkey") % 2 === 1), "cloneadd")))
      def agg(root: String, v: Int, label: String): DataFrame =
        Manifest.load(s, root, v)
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 4)
              .as("total"))
          .select(lit(label).as("table_ref"), col("n"), col("total"))
      agg(src, 1, "source_v1").unionAll(agg(clone, 1, "clone_v1"))
        .unionAll(agg(clone, 2, "clone_v2"))
        .orderBy("table_ref")
    }),

    // Write-Audit-Publish — the staging WORKFLOW the manifest
    // primitives exist for (the Iceberg/Netflix WAP pattern): each
    // batch lands as unpublished data files + a staged manifest, a DQ
    // audit runs AGAINST THE STAGED FILES (never the live table), and
    // only a passing batch's manifest is promoted to the published
    // pointer. A failing batch leaves the published version untouched
    // — its files stay on disk for forensics, exactly like a write to
    // a staging branch that never merges. Batch A (clean) audits
    // green and publishes; batch B (corrupted balances injected)
    // audits red and must NOT publish. The declared result carries
    // the per-batch audit verdicts AND the published table's final
    // per-nation fingerprint, so "B's rows are absent because its
    // audit failed" is hash-checked semantics. At 100 TB the audit
    // costs one scan of the NEW files only (the staged manifest lists
    // just the batch), and publish/rollback are manifest pointer
    // swaps — O(1) in table size.
    "stage_write_audit_publish" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("wap")
      var published: Seq[String] = Manifest.writeFiles(out,
        Tables.customer(s, d).filter(col("c_custkey") % 3 === 0), "base")
      // audit = zero balance-range violations over the STAGED batch
      def audit(files: Seq[String]): Long =
        s.read.parquet(files: _*)
          .filter(col("c_acctbal") < -1000 || col("c_acctbal") > 100000)
          .count()
      def stage(df: DataFrame, sub: String): (Seq[String], Long) = {
        val files = Manifest.writeFiles(out, df, sub)
        (files, audit(files))
      }
      val base = Tables.customer(s, d)
      val (aFiles, aViol) = stage(base.filter(col("c_custkey") % 3 === 1), "batch_a")
      if (aViol == 0) published = published ++ aFiles // publish A
      val (bFiles, bViol) = stage(
        base.filter(col("c_custkey") % 3 === 2)
          .withColumn("c_acctbal",
            when(col("c_custkey") % 6 === 2, lit(-99999.0))
              .otherwise(col("c_acctbal"))), "batch_b")
      if (bViol == 0) published = published ++ bFiles // B must NOT pass
      val audits = {
        import s.implicits._
        Seq(("audit_batch_a", aViol, 0.0), ("audit_batch_b", bViol, 0.0))
          .toDF("item", "n", "total")
      }
      val pub = s.read.parquet(published: _*)
        .groupBy(concat(lit("pub_nation_"), col("c_nationkey")).as("item"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("c_acctbal").cast("decimal(18,2)"))
            .cast("double"), 4).as("total"))
      audits.unionByName(pub).orderBy("item")
    }),

    // Change-data-feed between manifest snapshots — the
    // Delta-CDF primitive on the same scaffolding as
    // `stage_acid_merge`: build that key's v1→v2 MERGE commit, then
    // compute the ROW-LEVEL changelog by keyed full-outer join of the
    // two snapshot reads: insert (new key), update_post (key present
    // in both, payload changed), and the unchanged majority dropped.
    // At 100 TB the join prunes to the files that DIFFER between the
    // manifests (here bucket 0 + the insert file — 2 of 5; the 3
    // shared files can't produce changes), so CDC costs O(changed
    // files), mirroring the MERGE's own cost bound. Declared result:
    // change_type × nation counts + summed balance delta,
    // hash-checked against the oracle's recomputed changelog.
    "stage_manifest_cdc" -> ((s, d) => {
      // build the merge fixture in this key's own directory (tmpDir
      // pre-cleans, so reruns are deterministic), then diff its two
      // versions
      val out = graft.sources.Staging.tmpDir("manifestcdc")
      mergeFixture(s, d, out)
      def version(v: Int): DataFrame = Manifest.load(s, out, v)
        .select(col("c_custkey"), col("c_nationkey").as(s"nk$v"),
          col("c_acctbal").as(s"b$v"))
      val (v1, v2) = (version(1), version(2))
      v1.join(v2, Seq("c_custkey"), "full_outer")
        .withColumn("change_type",
          when(col("nk1").isNull, lit("insert"))
            .when(col("nk2").isNull, lit("delete"))
            .when(col("b1") =!= col("b2"), lit("update_post"))
            .otherwise(lit("unchanged")))
        .filter(col("change_type") =!= "unchanged")
        .groupBy(col("change_type"),
          coalesce(col("nk2"), col("nk1")).as("nation"))
        .agg(count(lit(1)).as("n"),
          round(sum((coalesce(col("b2"), lit(0.0))
            - coalesce(col("b1"), lit(0.0))).cast("decimal(18,2)"))
            .cast("double"), 4).as("bal_delta"))
        .orderBy("change_type", "nation")
    }),

    // OPTIMIZE (small-file compaction) on the manifest mini-format —
    // the fourth table-format primitive, completing the
    // quartet (snapshot read / CoW MERGE / DELETE+VACUUM / OPTIMIZE):
    // v1 commits the fixture as 8 small shard files (the
    // many-small-files state every microbatch stager degrades into);
    // the OPTIMIZE commit rewrites them into ONE compacted file and
    // publishes v2 — content-identical by construction, and v1 keeps
    // reading the original files (readers never block on maintenance,
    // the availability property compaction must preserve). Declared
    // result: both versions' aggregates — equal rows across versions
    // IS the losslessness proof, hash-checked. LifecycleSpec asserts
    // the file count actually drops 8 → 1.
    "stage_manifest_compact" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("manifestcompact")
      def read(v: Int): DataFrame = Manifest.load(s, out, v)
      val base = Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"))
      base.repartition(8).write.mode("overwrite").parquet(s"$out/data/small")
      require(Manifest.commit(out, 1, Manifest.files(s"$out/data/small")))
      require(Manifest.commit(out, 2,
        Manifest.writeFiles(out, read(1), "compact")))
      def agg(v: Int): DataFrame =
        read(v).groupBy("s_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum(col("s_acctbal").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(v).as("version"), col("s_nationkey"), col("n"),
            col("total"))
      agg(1).unionAll(agg(2)).orderBy("version", "s_nationkey")
    }),

    // DELETE + VACUUM on the manifest mini-format — the
    // third table-format primitive after snapshot reads
    // (`stage_time_travel`) and copy-on-write MERGE
    // (`stage_acid_merge`): a DELETE commit rewrites only the file
    // holding matched rows (predicate c_custkey % 8 = 0 hits bucket 0
    // of 4) and publishes a manifest that re-references the rest; the
    // superseded file stays on disk so v1 remains readable until a
    // VACUUM reclaims it (retention). The declared result carries both
    // versions — delete semantics AND snapshot isolation are
    // hash-checked; LifecycleSpec runs the actual vacuum (exactly one
    // unreferenced file) and proves v2 still reads afterwards.
    "stage_acid_delete_vacuum" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("aciddelete")
      val base = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      val v1Files = (0 to 3).flatMap(b => Manifest.writeFiles(out,
        base.filter(pmod(col("c_custkey"), lit(4)) === b), s"b$b"))
      require(Manifest.commit(out, 1, v1Files))
      // DELETE WHERE c_custkey % 8 = 0: only bucket 0 holds matches →
      // rewrite that one file without them
      val newB0 = base.filter(pmod(col("c_custkey"), lit(4)) === 0)
        .filter(!(col("c_custkey") % 8 === 0))
      require(Manifest.commit(out, 2, v1Files.filterNot(_.contains("/b0/"))
        ++ Manifest.writeFiles(out, newB0, "b0_v2")))
      def agg(v: Int): DataFrame =
        Manifest.load(s, out, v).groupBy("c_nationkey")
          .agg(count(lit(1)).as("n"),
            round(sum(col("c_acctbal").cast("decimal(18,2)"))
              .cast("double"), 4).as("total"))
          .select(lit(v).as("version"), col("c_nationkey"), col("n"),
            col("total"))
      agg(1).unionAll(agg(2)).orderBy("version", "c_nationkey")
    }),

    "sink_zorder_curve" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("zorder")
      Tables.part(s, d)
        .withColumn("zkey", morton8(
          col("p_size").cast("long"), col("p_partkey") % 256))
        .repartitionByRange(4, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy(shiftright(col("zkey"), 10).as("zbucket"))
        .agg(count(lit(1)).as("n"), sum(col("p_partkey")).as("sum_pk"),
          min(col("zkey")).as("min_z"), max(col("zkey")).as("max_z"))
        .orderBy("zbucket")
    }),

    // Hilbert-curve layout beside
    // sink_zorder_curve — same sink (curve-sorted parquet,
    // range-partitioned on the key) and the ADOPTION ARGUMENT
    // MEASURED, not asserted: per UNALIGNED 1000-cell curve bucket
    // (1000 is deliberately not a power of two — bit-aligned buckets
    // are perfect squares on BOTH curves and hide the difference),
    // the census compares each curve's bucket bounding-box area.
    // Z-order buckets straddle the curve's power-of-two jumps and
    // blow up their bboxes; Hilbert's unit-step continuity keeps a
    // contiguous d-range spatially compact — THE reason to pick
    // Hilbert for multi-dim clustering at high dimension/skew
    // (Faloutsos & Roseman 1989). Output: per curve, bucket count,
    // row count, total/avg/max bbox area — the avg ratio is the
    // measured locality win, readable off one row pair.
    "sink_hilbert_curve" -> ((s, d) => {
      val out = graft.sources.Staging.tmpDir("hilbert")
      // dense grid coordinates (x, y) = (pk mod 256, pk div 256 mod
      // 256): every 256-aligned stripe fills completely, so bucket
      // bboxes measure the CURVES, not fixture sparsity (p_size only
      // spans 1..50 and left 3 of 8 x-bits dead in a first cut —
      // thin-slab geometry where neither curve can differentiate)
      val keyed = withHilbert8(Tables.part(s, d)
        .select(col("p_partkey"),
          (col("p_partkey") % 256).as("hx"),
          expr("p_partkey % 65536 DIV 256").as("hy")))
        .withColumn("zkey", morton8(col("hx"), col("hy")))
      keyed
        .repartitionByRange(4, col("hkey"))
        .sortWithinPartitions("hkey")
        .write.mode("overwrite").parquet(out)
      val curves = s.read.parquet(out).selectExpr("hx", "hy",
        "stack(2, 'hilbert', hkey, 'zorder', zkey) AS (curve, k)")
      curves
        .groupBy(col("curve"), expr("k DIV 1000").as("b"))
        .agg(count(lit(1)).as("n"),
          ((max(col("hx")) - min(col("hx")) + 1) *
            (max(col("hy")) - min(col("hy")) + 1)).as("bbox"))
        .groupBy("curve")
        .agg(count(lit(1)).as("n_buckets"), sum(col("n")).as("n_rows"),
          sum(col("bbox")).as("sum_bbox"), max(col("bbox")).as("max_bbox"))
        .select(col("curve"), col("n_buckets"), col("n_rows"),
          col("sum_bbox"), col("max_bbox"),
          // exact integer ×10⁴ average (sum_bbox ≤ 66·2¹⁶ — no
          // overflow; non-negative operands: DIV == //)
          expr("CAST(sum_bbox * 10000 DIV n_buckets AS BIGINT)")
            .as("avg_bbox4"))
        .orderBy("curve")
    }),
  )

  /** Chained-CTE DuckDB mirror of [[withHilbert8]]: h0 must provide
    * (…, x, y, d) with d = 0; emits h1..h8, leaving (…, x, y, d). */
  private def duckHilbertCtes(from: String): String =
    Seq(128L, 64L, 32L, 16L, 8L, 4L, 2L, 1L).zipWithIndex.map {
      case (s, k) =>
        val prev = if (k == 0) from else s"h$k"
        s"""h${k + 1} AS (
             SELECT * EXCLUDE (x, y, d, rx, ry),
                    d + ${s * s} * xor(3 * rx, ry) AS d,
                    CASE WHEN ry = 0 THEN
                           CASE WHEN rx = 1 THEN ${s - 1} - y ELSE y END
                         ELSE x END AS x,
                    CASE WHEN ry = 0 THEN
                           CASE WHEN rx = 1 THEN ${s - 1} - x ELSE x END
                         ELSE y END AS y
             FROM (SELECT *,
                     CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
                     CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
                   FROM $prev))"""
    }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "sink_hilbert_curve" ->
      s"""WITH h0 AS (SELECT p_partkey,
                             CAST(p_partkey % 256 AS BIGINT) AS x0,
                             CAST(p_partkey % 65536 // 256 AS BIGINT) AS y0,
                             CAST(p_partkey % 256 AS BIGINT) AS x,
                             CAST(p_partkey % 65536 // 256 AS BIGINT) AS y,
                             CAST(0 AS BIGINT) AS d
                      FROM part),
              ${duckHilbertCtes("h0")},
              zb AS (SELECT p_partkey, x0, y0,
                            ((x0 | (x0 << 4)) & 3855) AS a,
                            ((y0 | (y0 << 4)) & 3855) AS b FROM h0),
              z2 AS (SELECT p_partkey, x0, y0,
                            ((a | (a << 2)) & 13107) AS a,
                            ((b | (b << 2)) & 13107) AS b FROM zb),
              zk AS (SELECT p_partkey, x0, y0,
                            (((a | (a << 1)) & 21845)
                             | (((b | (b << 1)) & 21845) << 1)) AS zkey
                     FROM z2),
              keys AS (SELECT 'hilbert' AS curve, h8.d AS k,
                              h8.x0 AS hx, h8.y0 AS hy FROM h8
                       UNION ALL
                       SELECT 'zorder', zkey, x0, y0 FROM zk),
              buck AS (SELECT curve, k // 1000 AS b, count(*) AS n,
                              (max(hx) - min(hx) + 1)
                                * (max(hy) - min(hy) + 1) AS bbox
                       FROM keys GROUP BY curve, b)
         SELECT curve, count(*) AS n_buckets,
                CAST(sum(n) AS BIGINT) AS n_rows,
                CAST(sum(bbox) AS BIGINT) AS sum_bbox,
                CAST(max(bbox) AS BIGINT) AS max_bbox,
                CAST(CAST(sum(bbox) AS BIGINT) * 10000
                     // count(*) AS BIGINT) AS avg_bbox4
         FROM buck GROUP BY curve ORDER BY curve""",
    "stage_time_travel" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                      AS DOUBLE), 4) AS total
         FROM orders WHERE o_orderkey % 3 = 0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // batch A is clean by fixture construction (acctbal ∈ [-999.99,
    // 9999.99]) so audit_batch_a = 0 and A publishes; batch B's
    // violations are the injected -99999 rows (c_custkey % 6 = 2 ∩
    // % 3 = 2); published = base ∪ A, never B
    "stage_write_audit_publish" ->
      """WITH audits AS (
           SELECT 'audit_batch_a' AS item,
                  (SELECT count(*) FROM customer
                   WHERE c_custkey % 3 = 1
                     AND (c_acctbal < -1000 OR c_acctbal > 100000))
                    AS n, 0.0 AS total
           UNION ALL
           SELECT 'audit_batch_b',
                  (SELECT count(*) FROM customer
                   WHERE c_custkey % 3 = 2 AND c_custkey % 6 = 2),
                  0.0),
         pub AS (
           SELECT 'pub_nation_' || CAST(c_nationkey AS VARCHAR) AS item,
                  count(*) AS n,
                  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                        AS DOUBLE), 4) AS total
           FROM customer
           WHERE c_custkey % 3 IN (0, 1)
           GROUP BY c_nationkey)
         SELECT item, CAST(n AS BIGINT) AS n, total FROM audits
         UNION ALL
         SELECT item, n, total FROM pub
         ORDER BY item""",
    // v2 = good ∪ negated bad batch; v3 (the RESTORE) = good only —
    // the oracle recomputes both snapshots straight from orders
    "stage_manifest_restore" ->
      """WITH v2 AS (
           SELECT o_orderstatus, o_totalprice FROM orders
           WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderstatus, o_totalprice * -1 FROM orders
           WHERE o_orderkey % 3 = 1),
         a2 AS (
           SELECT 2 AS version, o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 4) AS total
           FROM v2 GROUP BY o_orderstatus),
         a3 AS (
           SELECT 3 AS version, o_orderstatus, count(*) AS n,
                  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        AS DOUBLE), 4) AS total
           FROM orders WHERE o_orderkey % 3 = 0
           GROUP BY o_orderstatus)
         SELECT * FROM a2 UNION ALL SELECT * FROM a3
         ORDER BY version, o_orderstatus""",
    // the oracle RECOMPUTES the changelog from the base table: the
    // only v1→v2 changes are +100 updates on c_custkey % 8 = 0 and
    // the mirrored inserts at 7.77; Spark's read-back b2−b1 double
    // drift (≤ ulp) is absorbed by the DECIMAL(18,2) cast on both
    // sides, so the deltas are exactly 100.00 / 7.77
    "stage_manifest_cdc" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer),
              ch AS (SELECT 'update_post' AS change_type,
                            c_nationkey AS nation,
                            CAST(100.00 AS DECIMAL(18,2)) AS delta
                     FROM base WHERE c_custkey % 8 = 0
                     UNION ALL
                     SELECT 'insert', c_nationkey,
                            CAST(7.77 AS DECIMAL(18,2))
                     FROM base WHERE c_custkey % 8 = 3)
         SELECT change_type, nation, count(*) AS n,
                round(CAST(sum(delta) AS DOUBLE), 4) AS bal_delta
         FROM ch GROUP BY change_type, nation
         ORDER BY change_type, nation""",
    "stage_manifest_compact" ->
      """WITH v AS (SELECT s_nationkey, count(*) AS n,
                           round(CAST(sum(CAST(s_acctbal AS DECIMAL(18,2)))
                                 AS DOUBLE), 4) AS total
                    FROM supplier GROUP BY s_nationkey)
         SELECT 1 AS version, s_nationkey, n, total FROM v
         UNION ALL
         SELECT 2, s_nationkey, n, total FROM v
         ORDER BY version, s_nationkey""",
    "stage_acid_delete_vacuum" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer),
              v2 AS (SELECT c_custkey, c_nationkey, c_acctbal
                     FROM base WHERE NOT (c_custkey % 8 = 0))
         SELECT 1 AS version, c_nationkey, count(*) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total
         FROM base GROUP BY c_nationkey
         UNION ALL
         SELECT 2, c_nationkey, count(*),
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
         FROM v2 GROUP BY c_nationkey
         ORDER BY version, c_nationkey""",
    "stage_acid_merge" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer),
              v2 AS (SELECT c_custkey, c_nationkey,
                            CASE WHEN c_custkey % 8 = 0
                                 THEN c_acctbal + 100 ELSE c_acctbal END
                              AS c_acctbal
                     FROM base
                     UNION ALL
                     SELECT -c_custkey, c_nationkey, 7.77
                     FROM base WHERE c_custkey % 8 = 3)
         SELECT 1 AS version, c_nationkey, count(*) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total
         FROM base GROUP BY c_nationkey
         UNION ALL
         SELECT 2, c_nationkey, count(*),
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
         FROM v2 GROUP BY c_nationkey
         ORDER BY version, c_nationkey""",
    "stage_merge_upsert" ->
      """WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal
                       FROM customer),
              upd AS (
                SELECT c_custkey, c_nationkey, c_acctbal + 100 AS c_acctbal
                FROM base WHERE c_custkey % 10 = 0
                UNION ALL
                SELECT -c_custkey, c_nationkey, 7.77
                FROM base WHERE c_custkey % 10 = 3),
              merged AS (
                SELECT * FROM upd
                UNION ALL
                SELECT * FROM base
                WHERE c_custkey NOT IN (SELECT c_custkey FROM upd))
         SELECT c_nationkey, count(*) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total
         FROM merged GROUP BY c_nationkey ORDER BY c_nationkey""",
    "stage_scd2" ->
      """SELECT s_suppkey, s_acctbal, 0 AS valid_from,
                CASE WHEN s_suppkey % 7 = 0 THEN 1 END AS valid_to,
                s_suppkey % 7 <> 0 AS is_current
         FROM supplier
         UNION ALL
         SELECT s_suppkey, s_acctbal + 50, 1, NULL, true
         FROM supplier WHERE s_suppkey % 7 = 0
         ORDER BY s_suppkey, valid_from""",
    "unpivot_long" ->
      """WITH f AS (SELECT * FROM part WHERE p_partkey % 10 = 0)
         SELECT p_partkey, 'retailprice' AS var, p_retailprice AS val FROM f
         UNION ALL
         SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM f
         ORDER BY p_partkey, var""",
    "profile_columns" ->
      """SELECT 'c_acctbal' AS col_name,
                count(*) - count(c_acctbal) AS n_nulls,
                count(DISTINCT c_acctbal) AS n_distinct FROM customer
         UNION ALL
         SELECT 'c_mktsegment', count(*) - count(c_mktsegment),
                count(DISTINCT c_mktsegment) FROM customer
         UNION ALL
         SELECT 'c_name', count(*) - count(c_name),
                count(DISTINCT c_name) FROM customer
         ORDER BY col_name""",
    "sample_systematic_every_k" ->
      """WITH r AS (SELECT lang, doc_id,
                           row_number() OVER (PARTITION BY lang
                                              ORDER BY doc_id) AS rn
                    FROM documents)
         SELECT lang, count(*) AS n_selected,
                CAST(sum(doc_id) AS BIGINT) AS id_fingerprint,
                CAST(max(rn) AS INTEGER) AS max_rank
         FROM r WHERE rn % 10 = 1
         GROUP BY lang ORDER BY lang""",
    "sample_stratified_exact" ->
      """WITH r AS (
           SELECT o_orderstatus, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderstatus
                                     ORDER BY o_orderkey) AS rn,
                  count(*) OVER (PARTITION BY o_orderstatus) AS n_stratum
           FROM orders)
         SELECT o_orderstatus, count(*) AS n_sampled,
                max(n_stratum) AS n_stratum,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS sampled_total
         FROM r WHERE rn <= ceil(n_stratum * 0.1)
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "sink_compaction" ->
      """SELECT event_type, count(*) AS n,
                round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4)
                  AS total
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sink_zorder_curve" ->
      """WITH b AS (SELECT p_partkey,
                           CAST(p_size AS BIGINT) & 255 AS x,
                           CAST(p_partkey % 256 AS BIGINT) & 255 AS y
                    FROM part),
              s1 AS (SELECT p_partkey,
                            ((x | (x << 4)) & 3855) AS a,
                            ((y | (y << 4)) & 3855) AS b FROM b),
              s2 AS (SELECT p_partkey,
                            ((a | (a << 2)) & 13107) AS a,
                            ((b | (b << 2)) & 13107) AS b FROM s1),
              z AS (SELECT p_partkey,
                           (((a | (a << 1)) & 21845)
                            | (((b | (b << 1)) & 21845) << 1)) AS zkey
                    FROM s2)
         SELECT (zkey >> 10) AS zbucket, count(*) AS n,
                CAST(sum(p_partkey) AS BIGINT) AS sum_pk,
                min(zkey) AS min_z, max(zkey) AS max_z
         FROM z GROUP BY zbucket ORDER BY zbucket""",
    // pruning math mirrored honestly: opened = matching buckets per
    // spec, total = all buckets per spec — same arithmetic the engine
    // used to select files
    "stage_partition_evolution" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total,
                CAST((SELECT count(DISTINCT o_custkey % 2) FROM orders
                      WHERE o_custkey % 4 = 1)
                   + (SELECT count(DISTINCT o_custkey % 4) FROM orders
                      WHERE o_custkey % 4 = 1) AS INTEGER)
                  AS files_opened,
                CAST((SELECT count(DISTINCT o_custkey % 2) FROM orders)
                   + (SELECT count(DISTINCT o_custkey % 4) FROM orders)
                  AS INTEGER) AS files_total
         FROM orders WHERE o_custkey % 4 = 1
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // referenced rows survive; the two uncommitted files (one with
    // data, one empty) are the removed orphans
    "stage_orphan_file_gc" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total,
                CAST(2 AS INTEGER) AS n_orphans_removed
         FROM orders WHERE o_orderkey % 2 = 0
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "stage_incremental_file_read" ->
      """SELECT o_orderstatus, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total,
                CAST(1 AS INTEGER) AS n_files_read,
                CAST(2 AS INTEGER) AS n_files_total
         FROM orders WHERE o_orderkey % 3 = 1
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "stage_merge_on_read_deletes" ->
      """WITH v AS (SELECT '1_pre' AS state, c_nationkey, c_acctbal
                    FROM customer
                    UNION ALL
                    SELECT '2_mor', c_nationkey, c_acctbal FROM customer
                    WHERE c_custkey % 7 <> 0
                    UNION ALL
                    SELECT '3_compacted', c_nationkey, c_acctbal
                    FROM customer WHERE c_custkey % 7 <> 0)
         SELECT state, c_nationkey, count(*) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total
         FROM v GROUP BY state, c_nationkey
         ORDER BY state, c_nationkey""",
    "stage_clone_shallow" ->
      """WITH v AS (SELECT 'source_v1' AS table_ref, c_acctbal
                    FROM customer WHERE c_custkey % 2 = 0
                    UNION ALL
                    SELECT 'clone_v1', c_acctbal FROM customer
                    WHERE c_custkey % 2 = 0
                    UNION ALL
                    SELECT 'clone_v2', c_acctbal FROM customer)
         SELECT table_ref, count(*) AS n,
                round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total
         FROM v GROUP BY table_ref ORDER BY table_ref""",
    "stage_concurrent_append" ->
      """WITH v AS (SELECT 1 AS version, o_totalprice FROM orders
                    WHERE o_orderkey % 3 = 0
                    UNION ALL
                    SELECT 2, o_totalprice FROM orders
                    WHERE o_orderkey % 3 IN (0, 1)
                    UNION ALL
                    SELECT 3, o_totalprice FROM orders)
         SELECT version, count(*) AS n,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  AS DOUBLE), 4) AS total
         FROM v GROUP BY version ORDER BY version""",
  )
}
