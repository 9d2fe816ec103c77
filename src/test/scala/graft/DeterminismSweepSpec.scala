package graft

import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType,
  StructType}

/** Partition-layout drift sweep (SURVEY §5.4.2): every float-producing
  * declared batch key must return IDENTICAL rows (values AND row
  * order) under two very different partition layouts — few wide
  * shuffle partitions vs many narrow ones plus small input splits.
  * This is the failure mode that once broke `agg_entropy` in a driver
  * run (a partition-order-dependent double sum crossing a floor4
  * boundary under local[32]): any declared query whose result depends
  * on reduction order or on tie-breaking that a layout change can flip
  * fails here before the driver sees it.
  *
  * The wide leg is the shared board construction ([[BoardPass]]), which
  * collects the swept keys' rows; this suite runs only the narrow leg.
  */
class DeterminismSweepSpec extends GraftSuite {

  test("float-output keys are invariant to partition layout (values + order)") {
    val wide = BoardPass.record.wideRows // few fat partitions
    val keys = wide.keys.toSeq.sorted
    assert(keys.nonEmpty)
    // many parts, tiny splits
    val narrow = SessionScope.withConf(spark)(
        "spark.sql.shuffle.partitions" -> "17",
        "spark.sql.files.maxPartitionBytes" -> "65536") {
      keys.map(k => k -> SparkEntry.queries(k)(spark, sf).collect().toSeq
        .map(_.toString)).toMap
    }
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

object DeterminismSweepSpec {

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case s: StructType          => s.fields.exists(f => hasFloat(f.dataType))
    case a: ArrayType           => hasFloat(a.elementType)
    case _                      => false
  }

  /** Streaming keys are excluded: they pin their own shuffle-partition
    * count (state-store sizing) and their determinism is covered by the
    * batch-equivalence tests in StreamingSpec. */
  private def isStreaming(name: String): Boolean =
    name.startsWith("stream_") || name == "source_streaming_files"

  /** True for the keys the sweep compares. [[BoardPass]] reads the
    * schema off the DataFrame it already built, so no key is
    * constructed a second time just to discover its schema. */
  def swept(name: String, schema: StructType): Boolean =
    !isStreaming(name) && hasFloat(schema)
}
