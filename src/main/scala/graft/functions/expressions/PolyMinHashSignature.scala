package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** k-function MinHash signature via the classic affine family
  * `h_j(x) = (a_j·x + b_j) mod P` (Carter–Wegman universal hashing),
  * expressible in SQL. With element hashes < P (guaranteed by
  * [[PolyShingleHashes]]; defensively re-reduced here) every intermediate
  * stays < P² ≈ 10¹⁸ < 2⁶³, so DuckDB computes the identical signature:
  *
  * {{{
  * list_transform(generate_series(0, k-1), j ->
  *   list_min(list_transform(s, h -> (a_j * h + b_j) % 1000000007)))
  * }}}
  *
  * a_j/b_j come from [[PolyHash.a]]/[[PolyHash.b]] — pure integer formulas of
  * j, mirrored literally in the oracle SQL.
  *
  * Rejects `containsNull` element types outright: a null slot would read
  * undefined memory through the primitive accessor.
  */
case class PolyMinHashSignature(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes > 0, s"numHashes must be positive, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> with non-nullable elements " +
        "(wrap the input so element nulls are impossible, e.g. filter(x, x -> x is not null))")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint> input, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // empty input -> null (DuckDB's list_min([]) is NULL, and a sentinel
  // signature would make ALL empty-set rows mutual LSH candidates)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any =
    PolyMinHashSignature.compute(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.expressions.PolyMinHashSignature.compute($a, $numHashes);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_poly_minhash"
}

object PolyMinHashSignature {
  import PolyHash.P

  // a/b tables for the common signature widths, built once per JVM (the per-j
  // formula is trivial, but the inner loop runs per shingle × per function)
  private val MaxCached = 64
  private val A: Array[Long] = Array.tabulate(MaxCached)(PolyHash.a)
  private val B: Array[Long] = Array.tabulate(MaxCached)(PolyHash.b)

  /** Static kernel shared by the interpreted and codegen paths (one call per
    * row keeps whole-stage codegen intact).
    */
  def compute(xs: ArrayData, numHashes: Int): ArrayData = {
    val n = xs.numElements()
    if (n == 0) return null // min over the empty set is undefined — see nullable
    val as = if (numHashes <= MaxCached) A else Array.tabulate(numHashes)(PolyHash.a)
    val bs = if (numHashes <= MaxCached) B else Array.tabulate(numHashes)(PolyHash.b)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = java.lang.Math.floorMod(xs.getLong(i), P)
      var j = 0
      while (j < numHashes) {
        val r = (as(j) * h + bs(j)) % P
        if (r < mins(j)) mins(j) = r
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}
