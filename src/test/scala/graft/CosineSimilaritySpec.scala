package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Equivalence + codegen tests for the native CosineSimilarity
  * expression (SURVEY §7.3). */
class CosineSimilaritySpec extends GraftSuite {

  test("native cosine_sim is bit-identical to the HOF formulation") {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val pairs = e.toDF("a", "va").join(e.toDF("b", "vb"), col("a") < col("b"))
      .limit(2000)
      .withColumn("native", expr("cosine_sim(va, vb)"))
      .withColumn("hof",
        expr("""aggregate(zip_with(transform(va, x -> CAST(x AS DOUBLE)),
                                   transform(vb, x -> CAST(x AS DOUBLE)),
                                   (x, y) -> x * y), 0D, (acc, v) -> acc + v)""")
          / (sqrt(expr("aggregate(transform(va, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, x) -> a + x)"))
            * sqrt(expr("aggregate(transform(vb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, x) -> a + x)"))))
    val maxDiff = pairs.agg(max(abs(col("native") - col("hof")))).collect()(0).getDouble(0)
    assert(maxDiff == 0.0, s"native and HOF cosine differ by $maxDiff")
  }

  test("cosine_sim self-similarity is 1.0 and participates in codegen") {
    GraftFunctions.register(spark)
    val df = Tables.embeddings(spark, sf)
      .withColumn("c", expr("cosine_sim(embedding, embedding)"))
    val bad = df.filter(abs(col("c") - 1.0) > 1e-12).count()
    assert(bad == 0, s"$bad vectors with self-cosine != 1")
    // a leading `*(n)` star marks an operator fused into
    // WholeStageCodegen stage n — the Project evaluating cosine_sim
    // must carry it (an eval-fallback expression would strip it)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("cosine_sim") && l.trim.startsWith("*(")),
      s"expression fell out of whole-stage codegen:\n$plan")
  }

  test("cosine_sim over literals is constant-folded by Catalyst") {
    GraftFunctions.register(spark)
    // foldable children → ConstantFolding evaluates the expression at
    // plan time; the optimized plan must contain the literal result,
    // not a cosine_sim call — evidence the custom Expression
    // participates in standard Catalyst rewrites.
    val df = spark.range(1)
      .selectExpr("cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c")
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("cosine_sim"),
      s"literal cosine_sim not constant-folded:\n$optimized")
    assert(df.collect()(0).getDouble(0) == 1.0)
  }

  test("native hamming_bits equals the HOF formulation and handles edge cases") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val sims = graft.operators.DedupAdvanced.simhash(
      Tables.documents(spark, sf)
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")))
    val pairs = sims.toDF("a", "ha").join(sims.toDF("b", "hb"), col("a") < col("b"))
      .withColumn("native", expr("hamming_bits(ha, hb)"))
      .withColumn("hof", expr(
        "size(filter(zip_with(split(ha, ''), split(hb, ''), (x, y) -> x = y), v -> NOT v))"))
    val diff = pairs.filter(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff pairs disagree between native and HOF hamming")
    // edge cases: identity, length mismatch → null, null propagation
    val edge = Seq(("0101", "0101"), ("0101", "1010"), ("0101", "01"))
      .toDF("x", "y")
      .select(expr("hamming_bits(x, y)").as("h")).collect()
    assert(edge(0).getInt(0) == 0)
    assert(edge(1).getInt(0) == 4)
    assert(edge(2).isNullAt(0), "length mismatch must be null, not a prefix distance")
  }
}
