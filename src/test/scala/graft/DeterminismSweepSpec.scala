package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  StructType}

/** Partition-layout drift sweep (VERDICT r4 item 4, SURVEY §5.4.2):
  * every float-producing declared batch key must return IDENTICAL rows
  * (values AND row order) under two very different partition layouts —
  * few wide shuffle partitions vs many narrow ones plus small input
  * splits. This is exactly the failure mode that broke `agg_entropy`
  * in the r4 driver run (a partition-order-dependent double sum
  * crossing a floor4 boundary under local[32]): any declared query
  * whose result depends on reduction order or on tie-breaking that a
  * layout change can flip fails here before the driver sees it.
  *
  * Streaming keys are excluded: they pin their own shuffle-partition
  * count (state-store sizing) and their determinism is covered by the
  * batch-equivalence tests in StreamingSpec.
  */
class DeterminismSweepSpec extends GraftSuite {

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case s: StructType          => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType           => hasFloat(a.elementType)
    case _                      => false
  }

  private def isStreaming(name: String): Boolean =
    name.startsWith("stream_") || name == "source_streaming_files"

  test("float-output keys are invariant to partition layout (values + order)") {
    val allKeys = SparkEntry.queries.keys.filterNot(isStreaming).toSeq.sorted
    // The float filter runs INSIDE the first layout pass (schema read off
    // the same DataFrame object) — a separate schema-discovery pass would
    // re-invoke every closure a third time, and several run driver
    // actions at construction (Lloyd collects, label propagation,
    // staging writes), doubling the heaviest keys' cost (ADVICE r5).
    def runAll(parts: String, maxBytes: String,
               subset: Option[Seq[String]]): Map[String, Seq[String]] = {
      SessionScope.withConf(spark)(
          "spark.sql.shuffle.partitions" -> parts,
          "spark.sql.files.maxPartitionBytes" -> maxBytes) {
        subset.getOrElse(allKeys).flatMap { k =>
          val df = SparkEntry.queries(k)(spark, sf)
          if (hasFloat(df.schema))
            Some(k -> df.collect().toSeq.map(_.toString))
          else None
        }.toMap
      }
    }
    val wide = runAll("3", "134217728", None)  // few fat partitions
    val keys = wide.keys.toSeq.sorted
    assert(keys.nonEmpty)
    val narrow = runAll("17", "65536", Some(keys)) // many parts, tiny splits
    val drifted = keys.filter(k => wide(k) != narrow(k))
    val detail = drifted.headOption.map { k =>
      val firstDiff = wide(k).zipAll(narrow(k), "<missing>", "<missing>")
        .find { case (x, y) => x != y }
      s"${drifted.size} key(s) drift with partition layout: $drifted; " +
        s"first difference in '$k': $firstDiff"
    }.getOrElse("")
    assert(drifted.isEmpty, detail)
  }
}
