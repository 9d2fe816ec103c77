package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity between two
  * ArrayType(FloatType) columns, with whole-stage codegen.
  *
  * Why a custom Expression (SURVEY §7.3): the HOF formulation
  * (`aggregate(zip_with(...))`) materializes an intermediate product
  * array and evaluates a lambda per element; this kernel is one fused
  * loop over both arrays computing dot product and both norms in a
  * single pass, inlined into the enclosing WholeStageCodegen stage —
  * no allocation, no virtual calls. Semantics are bit-identical to the
  * HOF form (left-to-right double accumulation), so the DuckDB oracles
  * are unchanged.
  *
  * Float elements are widened to double before any arithmetic
  * (exact), matching the declared-query convention.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true // any containsNull
      case _ => false
    }))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires two array<float> arguments, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_sim"
  // null is returned for length-mismatched inputs and null elements,
  // not only for null inputs
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null // no silent prefix similarity
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // propagate like the HOF form
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      // element null checks are emitted only when the input types can
      // actually hold nulls, so the fixture path keeps the tight loop
      val mayHaveNulls =
        Seq(left, right).exists(_.dataType match {
          case ArrayType(_, cn) => cn
          case _ => true
        })
      val nullCheck =
        if (mayHaveNulls)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    double $xv = (double) $a.getFloat($i);
         |    double $yv = (double) $b.getFloat($i);
         |    $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Registration for the engine's native functions on an existing
  * session: `cosine_sim`, `hamming_bits`, `lsh_sigs` and `pq_codes`. */
object GraftFunctions {
  /** Registers each kernel the session lacks. Keys call this during
    * construction, so a key runs on any session, including one not
    * built by [[graft.Session]]; checking first keeps the repeat calls
    * from replacing (and logging a WARN for) a registration that is
    * already there. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq[(String, Seq[Expression] => Expression)](
      "cosine_sim" -> (e => CosineSimilarity(e(0), e(1))),
      "hamming_bits" -> (e => StringHamming(e(0), e(1))),
      "lsh_sigs" -> (e => LshSignatures(e(0))),
      "pq_codes" -> (e => PqAssignCodes(e(0), e(1))))
      .foreach { case (name, builder) =>
        if (!registry.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
          registry.createOrReplaceTempFunction(name, builder, "built-in")
      }
  }
}
