package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused vector kernels as native Catalyst expressions with whole-stage
  * codegen (SURVEY.md §4: the one place a custom Expression is warranted —
  * the pair-scoring hot path of top-k / kNN / near-dup joins).
  *
  * The higher-order-function formulation (`aggregate(zip_with(...))`)
  * allocates an intermediate array per evaluated pair; these kernels are a
  * single allocation-free loop. Accumulation order (left-to-right per
  * accumulator, `dot/(sqrt(na)*sqrt(nb))`) is IDENTICAL to the HOF form,
  * so results are bit-for-bit equal and the DuckDB oracle parity is
  * preserved; `VectorFunctionsSpec` keeps the HOF forms as the reference.
  *
  * Semantics match the HOF form also at the edges: mismatched lengths or a
  * null element => null; zero norm => null.
  */
trait VectorPairKernel extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs, " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

case class DotProduct(left: Expression, right: Expression) extends VectorPairKernel {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val i   = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $dot += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $dot;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_dot"
}

case class CosineSimilarity(left: Expression, right: Expression) extends VectorPairKernel {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na  = 0.0
    var nb  = 0.0
    var i   = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    val np = math.sqrt(na) * math.sqrt(nb)
    if (np == 0.0) null else dot / np
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n   = ctx.freshName("n")
      val i   = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na  = ctx.freshName("na")
      val nb  = ctx.freshName("nb")
      val np  = ctx.freshName("np")
      val xi  = ctx.freshName("xi")
      val yi  = ctx.freshName("yi")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xi = $a.getDouble($i);
         |    double $yi = $b.getDouble($i);
         |    $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |  }
         |  if (!${ev.isNull}) {
         |    double $np = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |    if ($np == 0.0) { ${ev.isNull} = true; } else { ${ev.value} = $dot / $np; }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_cosine"
}

/** Squared L2 norm, one sequential loop `s += x*x` from 0.0 — the
  * accumulation order of `aggregate(x, 0.0, (acc, y) -> acc + y*y)`, so the
  * result is bit-identical to that higher-order form. Unlike it (Spark's
  * `ArrayAggregate` is a `CodegenFallback`), this kernel keeps the operator
  * that holds it inside whole-stage codegen. A null array or a null element
  * gives null; an empty array gives 0.0.
  */
case class L2NormSq(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double> input, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val xi = x.getDouble(i)
      s += xi * xi
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n  = ctx.freshName("n")
      val i  = ctx.freshName("i")
      val s  = ctx.freshName("s")
      val xi = ctx.freshName("xi")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $xi = $a.getDouble($i);
         |  $s += $xi * $xi;
         |}
         |if (!${ev.isNull}) ${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_l2normsq"
}

/** All band buckets of the corpus-mean-centered banded-SRP family
  * ([[graft.operators.AnnIndex.cosineNearDupPairsBandedCentered]]) in ONE
  * allocation-light kernel: input vector x and centering mean m (both
  * array<double>), output array<long> of `bands` buckets, where band b's
  * bit j-1 is sign(Σ_d (x_d − m_d) · w(b·rbits+j−1, d)) and the hyperplane
  * value w(p, d) = ((k²·2654435761 + 97k + 12345) mod 1000003) − 501001
  * with k = p·dim + d + 1 — EXACTLY [[graft.operators.AnnIndex.hyperplanes]]'
  * integer formula, computed arithmetically instead of materialized as
  * plan literals. The literal form put bands·rbits·dim ≈ 10⁵ double
  * literals into the expression tree, and the streamed gate re-plans that
  * tree EVERY micro-batch — q214 went 1.9 s → 5.9 s on planning/codegen
  * alone (r16, shuffle 0.04 MiB). Arithmetic order per plane is the same
  * left-to-right (x−m)·w fold as the zip_with + DotProduct form, so the
  * buckets are bit-identical to the literal path and to the oracles'
  * list_inner_product mirror.
  */
case class SrpBandBuckets(left: Expression, right: Expression,
                          rbits: Int, bands: Int) extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<double> inputs, " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val dim = x.numElements()
    if (dim != m.numElements()) return null
    var d = 0
    while (d < dim) {
      if (x.isNullAt(d) || m.isNullAt(d)) return null
      d += 1
    }
    val out = new Array[Long](bands)
    var p = 0
    while (p < bands * rbits) {
      var dot = 0.0
      var i = 0
      while (i < dim) {
        val k = p.toLong * dim + i + 1
        val w = ((k * k * 2654435761L + 97L * k + 12345L) % 1000003L - 501001L).toDouble
        dot += (x.getDouble(i) - m.getDouble(i)) * w
        i += 1
      }
      if (dot >= 0.0) out(p / rbits) |= 1L << (p % rbits)
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val d   = ctx.freshName("d")
      val p   = ctx.freshName("p")
      val i   = ctx.freshName("i")
      val k   = ctx.freshName("k")
      val w   = ctx.freshName("w")
      val dot = ctx.freshName("dot")
      val out = ctx.freshName("out")
      val bad = ctx.freshName("bad")
      s"""
         |int $dim = $a.numElements();
         |boolean $bad = ($dim != $b.numElements());
         |for (int $d = 0; !$bad && $d < $dim; $d++) {
         |  if ($a.isNullAt($d) || $b.isNullAt($d)) $bad = true;
         |}
         |if ($bad) { ${ev.isNull} = true; } else {
         |  long[] $out = new long[$bands];
         |  for (int $p = 0; $p < ${bands * rbits}; $p++) {
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $dim; $i++) {
         |      long $k = (long) $p * $dim + $i + 1;
         |      double $w = (double) (($k * $k * 2654435761L + 97L * $k + 12345L) % 1000003L - 501001L);
         |      $dot += ($a.getDouble($i) - $b.getDouble($i)) * $w;
         |    }
         |    if ($dot >= 0.0) $out[$p / $rbits] |= 1L << ($p % $rbits);
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): SrpBandBuckets =
    copy(left = newLeft, right = newRight)
}
