package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Matrix × vector with a constant row matrix as ONE reference object —
  * the kernel form of [[graft.functions.VectorFunctions.matVec]]'s
  * higher-order formulation, which baked the matrix into the plan as a
  * nested array LITERAL: at the OPQ fixture size (64×64) that is ~4k
  * literal nodes walked by every analysis/optimization pass of every
  * rotated-chain plan, and at a production rotation (1536×1536 → 2.4 M
  * nodes) the plan itself becomes the bottleneck — the same pathology
  * class [[CentroidKernels]] fixed for the IVF centroid matrix.
  *
  * Arithmetic contract (bit-identical to the HOF form, which is what keeps
  * the rotated-chain DuckDB oracles hash-stable): out(j) = left-to-right
  * fold of v(i)·mat(j)(i) — exactly [[DotProduct]]'s accumulation, which is
  * also DuckDB `list_inner_product`'s.
  *
  * Null semantics, matching `transform(…, j -> dot(v, row_j))`
  * element-for-element: null input vector ⇒ null result; a null element in
  * the vector, or a vector whose length differs from a row's, ⇒ that output
  * element is null (all of them, since every row has the same length).
  */
object MatVecKernels {
  def matVec(vec: ArrayData, mat: Array[Array[Double]]): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Any](mat.length)
    var hasNull = false
    var d = 0
    while (d < n && !hasNull) { if (vec.isNullAt(d)) hasNull = true else d += 1 }
    if (!hasNull) {
      val v = vec.toDoubleArray()
      var j = 0
      while (j < mat.length) {
        val row = mat(j)
        if (row.length == n) {
          var dot = 0.0
          var i = 0
          while (i < n) { dot += v(i) * row(i); i += 1 }
          out(j) = java.lang.Double.valueOf(dot)
        } // else: length mismatch ⇒ element stays null
        j += 1
      }
    } // hasNull: every element stays null
    new GenericArrayData(out)
  }
}

case class MatVecMul(child: Expression, mat: Array[Array[Double]])
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    MatVecKernels.matVec(v.asInstanceOf[ArrayData], mat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val matRef = ctx.addReferenceObj("matVecMat", mat, "double[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.expressions.MatVecKernels.matVec($v, $matRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_mat_vec"
}
