package graft

import org.apache.spark.sql.functions._

/** Round-9 pins: the bloom-filter sink really writes bloom filters,
  * the gzip sink really gzips, and the b-bit minhash estimator stays
  * inside its structural bounds.
  */
class Round9Spec extends GraftSuite {

  test("sink_parquet_bloom_filter: footer carries a bloom filter on o_custkey") {
    // run the key (writes the staged dir), then open the footer with
    // parquet-hadoop and read the o_custkey bloom filter back: a
    // written key must test positive, a key far outside the fixture
    // range should (with bloom-fp probability ~0) test negative.
    SparkEntry.queries("sink_parquet_bloom_filter")(spark, sf).collect()
    val dir = new java.io.File(graft.sources.Staging.scratchPath("graft_bloom_"))
    val part = dir.listFiles().filter(_.getName.endsWith(".parquet")).head
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.column.values.bloomfilter.BloomFilter
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(part.getAbsolutePath),
        new Configuration()))
    try {
      val rg = reader.getFooter.getBlocks.get(0)
      val colMeta = rg.getColumns.asScala
        .find(_.getPath.toDotString == "o_custkey")
        .getOrElse(fail("o_custkey column missing from footer"))
      val bloom: BloomFilter = reader.getBloomFilterDataReader(rg)
        .readBloomFilter(colMeta)
      assert(bloom != null, "no bloom filter written for o_custkey — " +
        "the parquet.bloom.filter.enabled#o_custkey option was dropped")
      val someKey = Tables.orders(spark, sf)
        .agg(min(col("o_custkey"))).collect()(0).getLong(0)
      assert(bloom.findHash(bloom.hash(someKey)),
        s"bloom misses written key $someKey")
      assert(!bloom.findHash(bloom.hash(999999999L)),
        "bloom claims a key far outside the fixture range (fp fluke " +
          "or a degenerate always-true filter)")
    } finally reader.close()
  }

  test("scan_jsonl_gzip_roundtrip: sink writes real .json.gz files") {
    SparkEntry.queries("scan_jsonl_gzip_roundtrip")(spark, sf).collect()
    val dir = new java.io.File(graft.sources.Staging.scratchPath("graft_jsonl_gz_"))
    val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    assert(parts.forall(_.getName.endsWith(".json.gz")),
      s"expected gzip json parts, got ${parts.map(_.getName).toSeq}")
    // magic bytes: gzip members start 0x1f 0x8b
    val head = java.nio.file.Files.readAllBytes(parts.head.toPath).take(2)
    assert(head.sameElements(Array(0x1f.toByte, 0x8b.toByte)),
      "part file is not actually gzip-compressed")
  }

  test("dedup_bbit_minhash: estimator structurally bounded") {
    val out = SparkEntry.queries("dedup_bbit_minhash")(spark, sf).collect()
    assert(out.nonEmpty, "banded candidates exist at every fixture SF")
    out.foreach { r =>
      val (m, est) = (r.getInt(3), r.getDouble(4))
      assert(m >= 0 && m <= 8, s"bit matches $m out of [0,8]")
      assert(est >= 0.0 && est <= 1.0, s"estimate $est out of [0,1]")
      // Ĵ = max(0, 2m/8 − 1): quarter-grid values only
      assert(math.abs(est * 4 - math.round(est * 4)) < 1e-12,
        s"estimate $est is not on the b=1, k=8 quarter grid")
    }
  }

  test("text_chunk_sliding: chunks tile every doc at stride 80, last " +
    "chunk ends exactly at len, ids deterministic") {
    val rows = SparkEntry.queries("text_chunk_sliding")(spark, sf).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.map(_.getLong(0)).toSet == docs.keySet,
      "every doc must yield at least one chunk")
    rows.groupBy(_.getLong(0)).foreach { case (id, cs) =>
      val len = docs(id).length
      val sorted = cs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(3) == 1L, s"doc $id: first start != 1")
      sorted.iterator.sliding(2).withPartial(false).foreach { p =>
        assert(p(1).getLong(3) - p(0).getLong(3) == 80L,
          s"doc $id: stride != 80")
        assert(p(0).getLong(4) == 120L,
          s"doc $id: non-last chunk truncated")
      }
      val last = sorted.last
      assert(last.getLong(3) + last.getLong(4) - 1 == len,
        s"doc $id: last chunk must end at len=$len")
      // id is the content-free address, md5 the content hash
      val r0 = sorted.head
      assert(r0.getString(2) ==
        org.apache.commons.codec.digest.DigestUtils.md5Hex(s"$id#0"))
      assert(r0.getString(5) == org.apache.commons.codec.digest
        .DigestUtils.md5Hex(docs(id).substring(0, math.min(120, len))))
    }
  }

  test("sample_farthest_point_coreset: maximin trace non-increasing, " +
    "picks distinct, matches a driver greedy mirror") {
    val rows = SparkEntry.queries("sample_farthest_point_coreset")(
      spark, sf).collect().sortBy(_.getLong(0))
    assert(rows.length == 8)
    assert(rows.head.getLong(1) == 0L, "seed must be vec_id 0")
    assert(rows.map(_.getLong(1)).distinct.length == 8)
    val dists = rows.drop(1).map(_.getDouble(2))
    assert(dists.zip(dists.tail).forall { case (a, b) => a >= b },
      s"k-center objective trace must be non-increasing: ${dists.toSeq}")
    // driver mirror of the greedy
    val vecs = Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def q4(x: Double) = math.floor(x * 10000.0) / 10000
    def d2(a: Array[Double], b: Array[Double]) =
      q4(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    var md = vecs.filter(_._1 != 0L)
      .map { case (k, v) => k -> d2(v, vecs(0L)) }
    var exp = Vector((1L, 0L, 0.0))
    (2 to 8).foreach { t =>
      val (pick, pd) = md.toSeq.minBy { case (k, m) => (-m, k) }
      exp :+= ((t.toLong, pick, pd))
      md = (md - pick).map { case (k, m) =>
        k -> math.min(m, d2(vecs(k), vecs(pick))) }
    }
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toVector == exp, "greedy path diverges from the mirror")
  }

  test("sink_csv_quoted_roundtrip: written parts really contain " +
    "escaped quotes and embedded newlines") {
    SparkEntry.queries("sink_csv_quoted_roundtrip")(spark, sf).collect()
    val dir = new java.io.File(graft.sources.Staging.scratchPath("graft_csv_q_"))
    val part = dir.listFiles().filter(_.getName.endsWith(".csv")).head
    val raw = new String(
      java.nio.file.Files.readAllBytes(part.toPath), "UTF-8")
    assert(raw.contains("\"\""),
      "payload quotes must be escaped as doubled quotes")
    // physical lines exceed logical records because payloads embed \n
    val nLines = raw.count(_ == '\n')
    val nRecords = raw.split("\n").count(_.startsWith("\""))
    assert(nLines > nRecords,
      s"embedded newlines missing: $nLines lines vs $nRecords records")
  }

  test("spatial_dbscan_core: census matches a brute-force driver " +
    "mirror (no grid)") {
    val got = SparkEntry.queries("spatial_dbscan_core")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getLong(1),
        r.getDouble(2)))).toMap
    // brute force without the grid — proves the 3x3 expansion loses
    // no neighbors (cell 10 > eps 5 by construction)
    val pts = Tables.customer(spark, sf).select("c_custkey").collect()
      .map(_.getLong(0)).map { k =>
        (k, (k * 7919 % 3600) / 10.0 - 180.0,
          (k * 104729 % 1700) / 10.0 - 85.0)
      }
    val nbrCnt = pts.map { case (k, lo, la) =>
      k -> pts.count { case (k2, lo2, la2) =>
        k2 != k && math.sqrt((lo2 - lo) * (lo2 - lo)
          + (la2 - la) * (la2 - la)) < 5.0
      }.toLong
    }.toMap
    val core = nbrCnt.filter(_._2 >= 4).keySet
    val border = pts.filter(p => !core(p._1)).filter { case (k, lo, la) =>
      pts.exists { case (k2, lo2, la2) => core(k2) &&
        math.sqrt((lo2 - lo) * (lo2 - lo)
          + (la2 - la) * (la2 - la)) < 5.0 }
    }.map(_._1).toSet
    val noise = pts.map(_._1).filterNot(core).filterNot(border).toSet
    val exp = Map(
      "core" -> core.size.toLong, "border" -> border.size.toLong,
      "noise" -> noise.size.toLong).filter(_._2 > 0)
    assert(got.keySet == exp.keySet, s"classes ${got.keySet} vs $exp")
    exp.foreach { case (c, n) =>
      assert(got(c)._1 == n, s"$c: ${got(c)._1} != $n")
    }
  }
}
