package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression: product-quantization code assignment —
  * argmin codeword per subspace against a FOLDABLE codebook literal,
  * with whole-stage codegen.
  *
  * `pq_codes(v, cb)` where `v : array<double>` (the vector) and
  * `cb : array<array<array<double>>>` (M subspaces × K codewords ×
  * SD dims, a `typedLit` — must be foldable) returns `array<int>` of
  * length M: for each subspace m, the index k minimizing
  * Σ_j (v[m·SD+j] − cb[m][k][j])², ties to the smallest k.
  *
  * Why a custom Expression (SURVEY §7.3, the [[LshSignatures]]
  * rationale, found by the r9 PQ geometry sweep in PLANS.md): the
  * declarative form — explode to (sub, sv) rows, then
  * `array_min(transform(sequence(0,K-1), c -> struct(aggregate(
  * zip_with(sv, cb[sub][c], …)), c)))` — runs interpreted lambda
  * HOFs: per element it allocates zip arrays and boxes doubles, and
  * at the r9 geometry (M=32 × K=128) that was ~8 s of pure lambda
  * overhead at sf0.1 where this kernel does the same 64·K
  * multiply-adds in a tight primitive loop inside the enclosing
  * WholeStageCodegen stage. Arithmetic is IDENTICAL index-order IEEE
  * double adds ((…((0+t₀)+t₁)+…) per codeword), and the `<` argmin
  * keeps the first minimum — exactly `array_min`'s (dist, cid)
  * struct order — so codes are bit-for-bit the ones the DuckDB
  * oracle replays.
  *
  * The codebook rides the expression as a `ctx.addReferenceObj`
  * `double[][][]` (driver-known, k×dim-bounded — never a join
  * side); the literal child itself is not evaluated per row.
  *
  * Null/shape contract: null vector → null; vector shorter than
  * M·SD or containing null elements → null (declared fixtures carry
  * exactly 64 non-null doubles, so this path is never taken there).
  */
case class PqAssignCodes(vec: Expression, codebook: Expression)
    extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = codebook

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType,
      codebook.dataType) match {
    case (ArrayType(DoubleType, _),
          ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
        if codebook.foldable =>
      TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "pq_codes requires (array<double>, foldable " +
        s"array<array<array<double>>>), got (${vec.dataType.simpleString}, " +
        s"${codebook.dataType.simpleString}" +
        s"${if (codebook.foldable) "" else ", non-foldable"})")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_codes"
  override def nullable: Boolean = true

  /** Driver/executor-local primitive copy of the codebook literal
    * (rebuilt per deserialized instance — bounded at M·K·SD). */
  @transient private lazy val cbArr: Array[Array[Array[Double]]] = {
    val m = codebook.eval(InternalRow.empty).asInstanceOf[ArrayData]
    Array.tabulate(m.numElements()) { i =>
      val sub = m.getArray(i)
      Array.tabulate(sub.numElements()) { k =>
        sub.getArray(k).toDoubleArray()
      }
    }
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null
    else PqAssignCodes.kernel(v.asInstanceOf[ArrayData], cbArr)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqcb", cbArr, "double[][][]")
    val vGen = vec.genCode(ctx)
    val ad = classOf[ArrayData].getName
    // the codebook child is deliberately NOT evaluated per row — it
    // rides as the reference object above
    ev.copy(code = code"""
      |${vGen.code}
      |boolean ${ev.isNull} = true;
      |$ad ${ev.value} = null;
      |if (!${vGen.isNull}) {
      |  ${ev.value} = graft.functions.PqAssignCodes.kernel(${vGen.value}, $cbRef);
      |  ${ev.isNull} = (${ev.value} == null);
      |}
    """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAssignCodes =
    copy(vec = newLeft, codebook = newRight)
}

object PqAssignCodes {
  /** Tight-loop argmin over codewords, per subspace. Index-order
    * double sums and first-minimum ties — bit-identical to the
    * declarative `array_min(transform(...))` form it replaces. */
  def kernel(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    if (m == 0) return new GenericArrayData(new Array[Int](0))
    val sd = cb(0)(0).length
    if (v.numElements() < m * sd) return null
    val local = new Array[Double](sd)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < sd) {
        if (v.isNullAt(s * sd + j)) return null
        local(j) = v.getDouble(s * sd + j)
        j += 1
      }
      val sub = cb(s)
      var bestD = Double.PositiveInfinity
      var bestC = 0
      var k = 0
      while (k < sub.length) {
        val cw = sub(k)
        var d = 0.0
        j = 0
        while (j < sd) { val t = local(j) - cw(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; bestC = k }
        k += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }
}
