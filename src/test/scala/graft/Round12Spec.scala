package graft

import org.apache.spark.sql.functions._

/** Round-12 additions outside the graph-ANN family (which has its own
  * Similarity3Spec): the XML staging roundtrip.
  */
class Round12Spec extends GraftSuite {

  test("scan_xml_roundtrip: sink writes real rowTag XML; readback " +
      "fingerprint matches the parquet-direct aggregate") {
    val got = SparkEntry.queries("scan_xml_roundtrip")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    // the part files are actual XML documents with the declared tags
    val dir = new java.io.File(graft.sources.Staging.scratchPath("graft_xml_"))
    val parts = dir.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.nonEmpty)
    assert(parts.forall(_.getName.endsWith(".xml")),
      s"expected .xml parts, got ${parts.map(_.getName).toSeq}")
    val text = new String(
      java.nio.file.Files.readAllBytes(parts.head.toPath), "UTF-8")
    assert(text.contains("<customer>") && text.contains("<c_custkey>"),
      "part file does not contain the declared rowTag/element structure")
    // the roundtrip must lose nothing: same per-nation fingerprint as
    // aggregating the parquet table directly (no XML in the loop)
    val want = Tables.customer(spark, sf)
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 4)
          .as("total"))
      .orderBy("c_nationkey")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq,
      "XML roundtrip fingerprint diverged from the parquet source")
  }

  test("timeseries_pacf: exactly matches a driver-side Durbin-Levinson " +
      "mirror on BigInt cent moments") {
    val got = SparkEntry.queries("timeseries_pacf")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.nonEmpty)
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("xc"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    got.foreach { case (pri, nDays, p1, p2, p3) =>
      val series = daily.filter(_._1 == pri).sortBy(_._2).map(_._3)
      assert(nDays == series.length.toLong, s"$pri day count")
      def r(k: Int): Double = {
        val pairs = series.drop(k).zip(series.dropRight(k))
        val n = BigInt(pairs.length)
        val sx = pairs.map(p => BigInt(p._1)).sum
        val sy = pairs.map(p => BigInt(p._2)).sum
        val sxy = pairs.map(p => BigInt(p._1) * p._2).sum
        val sxx = pairs.map(p => BigInt(p._1) * p._1).sum
        val syy = pairs.map(p => BigInt(p._2) * p._2).sum
        (n * sxy - sx * sy).toDouble /
          math.sqrt((n * sxx - sx * sx).toDouble * (n * syy - sy * sy).toDouble)
      }
      val (r1, r2, r3) = (r(1), r(2), r(3))
      val phi22 = (r2 - r1 * r1) / (1.0 - r1 * r1)
      val phi21 = r1 - phi22 * r1
      val phi33 = (r3 - phi21 * r2 - phi22 * r1) /
        (1.0 - phi21 * r1 - phi22 * r2)
      def q4(x: Double): Double = math.floor(x * 1e4) / 1e4
      assert((p1, p2, p3) == ((q4(r1), q4(phi22), q4(phi33))),
        s"$pri: engine ($p1,$p2,$p3) != mirror " +
          s"(${q4(r1)},${q4(phi22)},${q4(phi33)})")
    }
  }

  test("fn_collation_group: UTF8_LCASE grouping fuses the case-mangled " +
      "variants that a raw groupBy keeps apart") {
    val got = SparkEntry.queries("fn_collation_group")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length == 20)
    // every frequent word was mangled into BOTH cases by the even/odd
    // doc split, and the collated groupBy must have fused them
    got.foreach { case (w, n, variants) =>
      assert(w == w.toLowerCase, s"output key '$w' not lower-projected")
      assert(variants == 2L,
        s"'$w' ($n rows): collation fused $variants case variants, " +
          "expected the UPPER and lower forms")
    }
    // control: the same aggregate WITHOUT collation sees 2 groups per
    // word — collation is doing real work, not mirroring a no-op
    val raw = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w0"))
      .select(when(col("doc_id") % 2 === 0, upper(col("w0")))
        .otherwise(col("w0")).as("w"))
      .groupBy("w").count()
      .filter(lower(col("w")).isin(got.map(_._1): _*))
      .count()
    assert(raw == 40L,
      s"control: expected 40 un-collated groups for 20 words, got $raw")
  }

  test("timeseries_rolling_ols: sampled slopes exactly match a " +
      "driver-side 14-day OLS on BigInt cent moments") {
    val got = SparkEntry.queries("timeseries_rolling_ols")(spark, sf)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(got.nonEmpty)
    val daily = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("pri"),
        to_date(col("o_orderdate")).as("day"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("yc"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    val byPri = daily.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toArray)
    var mirrored = 0
    byPri.foreach { case (pri, ys) =>
      (14 to ys.length).foreach { li =>
        if (li % 97 == 0) {
          val win = (li - 13 to li).map(i => (BigInt(i), BigInt(ys(i - 1))))
          val n = BigInt(14)
          val st = win.map(_._1).sum; val sy = win.map(_._2).sum
          val sty = win.map(p => p._1 * p._2).sum
          val stt = win.map(p => p._1 * p._1).sum
          val slope = math.floor((n * sty - st * sy).toDouble
            / (n * stt - st * st).toDouble * 1e4) / 1e4
          assert(got((pri, li.toLong)) == slope,
            s"$pri@$li: engine ${got((pri, li.toLong))} != mirror $slope")
          mirrored += 1
        }
      }
    }
    assert(mirrored == got.size, "row-count mismatch vs the mirror")
    // local trend is a SIGNAL, not a constant: both signs occur
    assert(got.values.exists(_ > 0) && got.values.exists(_ < 0),
      "rolling slopes degenerate to one sign — not a trend detector")
  }

  test("join_point_in_time: every event matches EXACTLY one dim " +
      "version, and versions partition the timeline at the declared " +
      "day boundaries") {
    val got = SparkEntry.queries("join_point_in_time")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // exactly-one-version: joined row count == event count (no event
    // lost to a validity gap, none duplicated by overlapping windows)
    val nEvents = Tables.events(spark, sf).count()
    assert(got.map(_._3).sum == nEvents,
      s"PIT join produced ${got.map(_._3).sum} rows for $nEvents events")
    // boundary correctness: per-version counts equal direct ts-bucket
    // counts at the declared day edges
    val buckets = Tables.events(spark, sf)
      .select(when(col("ts") < to_timestamp(lit("2024-01-11 00:00:00")), 0)
        .when(col("ts") < to_timestamp(lit("2024-01-21 00:00:00")), 1)
        .otherwise(2).as("v"))
      .groupBy("v").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perV = got.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(perV == buckets,
      s"version counts $perV != ts-bucket truth $buckets")
    assert(perV.keySet == Set(0, 1, 2) && perV.values.forall(_ > 0),
      "all three dim versions must be exercised by the fixture span")
  }

  test("pipeline_pit_training_e2e: row conservation, both classes " +
      "live, and the 72h label matches a driver-side replay") {
    val got = SparkEntry.queries("pipeline_pit_training_e2e")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nViews = Tables.events(spark, sf)
      .filter(col("event_type") === "view").count()
    assert(got.map(_._4).sum == nViews,
      "every view event must land in exactly one census cell")
    assert(got.exists(_._2 == 1L) && got.exists(_._2 == 0L),
      "both label classes must be live in the fixture")
    assert(Set("train", "test").subsetOf(got.map(_._1).toSet),
      "both splits must be populated")
    // label replay: per-class totals from a driver-side 72h scan
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val purByUser: Map[Long, Seq[Long]] = ev.filter(_._2 == "purchase")
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._3).toSeq }
    val h72 = 72L * 3600 * 1000000
    val wantPos = ev.filter(_._2 == "view").count { case (u, _, us) =>
      purByUser.getOrElse(u, Seq.empty[Long])
        .exists(p => p > us && p <= us + h72)
    }.toLong
    assert(got.filter(_._2 == 1L).map(_._4).sum == wantPos,
      "positive-label total != driver-side 72h replay")
  }

  test("spatial_polygon_shoelace: area matches the star closed form " +
      "8·r·s, winding is CCW, centroid sits on the center by symmetry") {
    val got = SparkEntry.queries("spatial_polygon_shoelace")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.length == 25)
    got.foreach { case (rid, nv, area2, cx, cy, perim) =>
      assert(nv == 8L)
      val r = rid % 5 * 4 + 10; val ss = (r + 1) / 2
      assert(area2 == 8 * r * ss,
        s"polygon $rid: area2 $area2 != closed form ${8 * r * ss}")
      assert(area2 > 0, s"polygon $rid: winding not CCW")
      // the star is point-symmetric about its center → centroid == center
      assert(cx == ((rid * 61 % 24) * 150 - 1800).toDouble, s"$rid cx")
      assert(cy == ((rid * 37 % 14) * 120 - 850).toDouble, s"$rid cy")
      // perimeter: 8 equal edges of length sqrt((r-s)^2 + s^2)
      val e = math.floor(math.sqrt(((r - ss) * (r - ss) + ss * ss)
        .toDouble) * 1e6) / 1e6
      assert(math.abs(perim - 8 * e) < 1e-9, s"$rid perimeter")
    }
  }

  test("multimodal_audio_rms: frame census exactly matches a " +
      "driver-side PCM-stub replay") {
    val got = SparkEntry.queries("multimodal_audio_rms")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val docs = Tables.documents(spark, sf)
      .filter(col("doc_id") % 11 === 0).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    got.foreach { case (id, nf, energy, nQuiet, peak) =>
      val t = docs(id)
      val samples = t.map(c => (c.toInt - 100).toLong)
      assert(nf == t.length / 32, s"doc $id frame count")
      val frames = samples.take(nf.toInt * 32).grouped(32)
        .map(_.map(x => x * x).sum).toSeq
      assert(energy == frames.sum, s"doc $id energy")
      assert(nQuiet == frames.count(_ * nf < energy), s"doc $id quiet")
      assert(peak == samples.take(nf.toInt * 32).map(math.abs).max,
        s"doc $id peak")
    }
    // self-calibration produces a real split, not all-or-nothing
    assert(got.exists(_._4 > 0) && got.exists(r => r._4 < r._2),
      "quiet-frame detection degenerate across the corpus")
  }

  test("subquery_any_all: the max-rewrite agrees with a third, " +
      "driver-side quantifier evaluation and filters non-trivially") {
    val got = SparkEntry.queries("subquery_any_all")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val parts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val allSet = parts.filter(_._1 % 100 == 0).map(_._3 / 2)
    val anySet = parts.filter(_._1 % 50 == 0).map(_._3)
    // literal quantifier semantics, no rewrite
    val kept = parts.filter { case (_, _, p) =>
      allSet.forall(p > _) && anySet.exists(p < _) }
    val want = kept.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(got.map(r => r._1 -> r._2).toMap == want,
      "max-rewrite disagrees with literal forall/exists evaluation")
    assert(kept.nonEmpty && kept.length < parts.length,
      "quantifier filter degenerate (kept all or nothing)")
  }

  test("feature_hash_cross: occupancy histogram conserves the cross " +
      "vocabulary and stays inside the 4096-bucket space") {
    val got = SparkEntry.queries("feature_hash_cross")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nCrosses = Tables.events(spark, sf)
      .select("user_id", "event_type").distinct().count()
    assert(got.map { case (load, nb) => load * nb }.sum == nCrosses,
      "histogram does not conserve the distinct-cross count")
    assert(got.map(_._2).sum <= 4096L,
      "more occupied buckets than the declared 4096 space")
    assert(got.forall(_._1 >= 1L), "zero-load buckets must not appear")
  }

  test("sql_scripting_while: the loop's answer IS the fixpoint — " +
      "k is the FIRST doubling that drops below 1000 survivors") {
    val Array(row) = SparkEntry.queries("sql_scripting_while")(spark, sf)
      .collect()
    val (k, thr, n) = (row.getInt(0), row.getDouble(1), row.getLong(2))
    assert(thr == math.pow(2.0, k))
    val orders = Tables.orders(spark, sf)
    def above(kk: Int): Long =
      orders.filter(col("o_totalprice") > math.pow(2.0, kk)).count()
    assert(n == above(k), "reported survivor count wrong")
    assert(n < 1000L, "loop exited above the target")
    assert(k >= 1 && above(k - 1) >= 1000L,
      s"k=$k is not the FIRST threshold below target " +
        s"(k-1 gives ${above(k - 1)})")
  }

  test("scan_row_lineage_metadata: one file per segment, row_index " +
      "contiguous 0-based per file (the lineage contract)") {
    val got = SparkEntry.queries("scan_row_lineage_metadata")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.length == 5) // the 5 market segments
    got.foreach { case (seg, n, riMin, riMax, riSum) =>
      assert(riMin == 0L && riMax == n - 1 && riSum == n * (n - 1) / 2,
        s"$seg: row_index not contiguous 0-based (n=$n, " +
          s"min=$riMin max=$riMax sum=$riSum)")
    }
    // layout: exactly one parquet part per segment directory
    val root = new java.io.File(graft.sources.Staging.scratchPath("graft_lineage_"))
    val segDirs = root.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("c_mktsegment="))
    assert(segDirs.length == 5)
    segDirs.foreach { dir =>
      val parts = dir.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length == 1,
        s"${dir.getName}: expected 1 part file, got ${parts.length}")
    }
  }

  test("window_budget_waterfall: census exactly matches a driver-side " +
      "FIFO allocation replay") {
    val got = SparkEntry.queries("window_budget_waterfall")(spark, sf)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    val orders = Tables.orders(spark, sf)
      .select(col("o_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("string"), col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    case class Acc(n: Long = 0, full: Long = 0, part: Long = 0,
        unf: Long = 0, alloc: Long = 0)
    val acc = collection.mutable.Map.empty[String, Acc]
      .withDefaultValue(Acc())
    orders.groupBy(_._1).values.foreach { os =>
      val budget = os.map(_._5).sum / 2
      var cum = 0L
      os.sortBy(o => (o._3, o._2)).foreach { o =>
        val a = math.max(0L, math.min(o._5, budget - cum))
        cum += o._5
        val c = acc(o._4)
        acc(o._4) = Acc(c.n + 1,
          c.full + (if (a == o._5) 1 else 0),
          c.part + (if (a > 0 && a < o._5) 1 else 0),
          c.unf + (if (a == 0) 1 else 0),
          c.alloc + a)
      }
    }
    acc.foreach { case (pri, c) =>
      val g = got(pri)
      assert(g == ((c.n, c.full, c.part, c.unf,
        math.rint(c.alloc.toDouble / 100.0 * 1e4) / 1e4)),
        s"$pri: engine $g != mirror $c")
    }
    // the budget REALLY splits outcomes three ways on this fixture
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._3 > 0) &&
      got.values.exists(_._4 > 0), "waterfall outcomes degenerate")
  }

  test("analytics_median_polish: exactly matches a driver-side " +
      "two-sweep Tukey polish on x16-cent integers") {
    val got = SparkEntry.queries("analytics_median_polish")(spark, sf)
      .collect().map(r => (r.getString(0),
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val cells = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("pri"),
        date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 1600)
        .cast("long").as("v"))
      .collect().map(r => ((r.getString(0), r.getDate(1).toString),
        r.getLong(2)))
    def median(xs: Seq[Long]): Long = {
      val s0 = xs.sorted; val n = s0.length
      val m2 = if (n % 2 == 1) 2 * s0(n / 2)
               else s0(n / 2 - 1) + s0(n / 2)
      assert(m2 % 2 == 0, "median not integral — scaling bug")
      m2 / 2
    }
    var v = cells.toMap
    val roweff = collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    (1 to 2).foreach { _ =>
      val rms = v.groupBy(_._1._1).view
        .mapValues(m => median(m.values.toSeq)).toMap
      v = v.map { case ((p, mo), x) => ((p, mo), x - rms(p)) }
      rms.foreach { case (p, rm) => roweff(p) += rm }
      val cms = v.groupBy(_._1._2).view
        .mapValues(m => median(m.values.toSeq)).toMap
      v = v.map { case ((p, mo), x) => ((p, mo), x - cms(mo)) }
    }
    roweff.foreach { case (p, re) =>
      val resid = v.filter(_._1._1 == p).values
      val want = (resid.size.toLong, re.toDouble / 1600.0,
        resid.map(math.abs).max.toDouble / 1600.0,
        resid.count(_ == 0L).toLong)
      assert(got(p) == want, s"$p: engine ${got(p)} != mirror $want")
    }
  }
}
