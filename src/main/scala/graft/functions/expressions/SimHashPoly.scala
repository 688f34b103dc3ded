package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** 60-bit SimHash (Charikar, STOC 2002), expressible in SQL: token hash
  * is the [[PolyHash]] code-point polynomial and bit j's ±1 vote is the
  * parity of the affine rehash
  * `((a_j·th + b_j) mod P) mod 2` — every intermediate < P² < 2⁶³, so DuckDB
  * reproduces the signature exactly (unnest tokens × generate_series(0,59),
  * group-by vote, then sum of `1 << j` where the vote is positive).
  *
  * 60 bits, not 64, so `1 << j` never touches the sign bit in either engine
  * (DuckDB BIGINT shift overflow vs Java wrap would otherwise diverge at
  * j = 63). Candidate banding uses 4×15-bit chunks — guaranteed recall for
  * hamming distance ≤ 3, heuristic beyond.
  *
  * Tie (vote sum 0) votes 0, matching the oracle's `CASE WHEN v > 0`.
  */
case class SimHashPoly(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def nullSafeEval(v: Any): Any =
    SimHashPoly.compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.expressions.SimHashPoly.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_simhash_poly"
}

object SimHashPoly {
  val Bits = 60
  import PolyHash.P

  private val A: Array[Long] = Array.tabulate(Bits)(PolyHash.a)
  private val B: Array[Long] = Array.tabulate(Bits)(PolyHash.b)

  /** Tokenize on 0x20 (split-with-limit-neg-1 semantics, empties kept), hash
    * each token's code points, parity-vote each of the 60 bits.
    */
  def compute(s: UTF8String): Long = {
    val base = s.getBaseObject
    val off  = s.getBaseOffset
    val len  = s.numBytes
    val counters = new Array[Int](Bits)
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || Platform.getByte(base, off + i) == 0x20) {
        val h = PolyHash.tokenHash(base, off, start, i)
        var j = 0
        while (j < Bits) {
          if (((A(j) * h + B(j)) % P & 1L) == 1L) counters(j) += 1 else counters(j) -= 1
          j += 1
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < Bits) {
      if (counters(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}
