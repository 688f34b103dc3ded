package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `ARRAY<FLOAT>`/`ARRAY<DOUBLE>` columns.
  *
  * Implements the similarity-metric surface the reference delegates to its
  * vector store (reference `vectrekker/main.py:23,166` — cosine metric;
  * dot / euclidean are the standard metric set the config field ranges over).
  *
  * No helper is a Scala UDF, so none boxes rows. The dot product, cosine,
  * squared norm and matrix × vector are native codegen kernels
  * ([[graft.functions.expressions]]), so an operator scoring with them stays
  * inside whole-stage codegen. `euclidean`, `l2Normalize` and the `quant*`
  * helpers are still built from Spark higher-order functions (`zip_with` /
  * `aggregate` / `transform`); those are `CodegenFallback` expressions, and
  * any one of them keeps its whole operator out of whole-stage codegen.
  *
  * Math is forced to Double: fixture embeddings are `ARRAY<FLOAT>` and
  * float accumulation both loses precision and diverges from any SQL oracle
  * computing in double.
  */
object VectorFunctions {
  import graft.functions.expressions.{CosineSimilarity, DotProduct, L2NormSq}
  import org.apache.spark.sql.{GraftSqlBridge => ExpressionUtils}

  /** Cast an array column to array<double> for numerically stable math. */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Fused single-pass dot product (native codegen Expression — no
    * intermediate array per pair, unlike the HOF form `aggregate(zip_with)`,
    * to which it is bit-identical).
    */
  def dotFused(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProduct(
      ExpressionUtils.expression(asDouble(a)), ExpressionUtils.expression(asDouble(b))))

  /** Matrix × vector with a constant row matrix (e.g. an OPQ rotation,
    * [[graft.operators.Opq]]): output j = mat(j)·v, each row product the
    * fused sequential dot — the identical accumulation DuckDB's
    * `list_inner_product` performs, so a rotated chain stays oracle-exact.
    * The matrix rides the plan as ONE reference object
    * ([[graft.functions.expressions.MatVecMul]], the CentroidKernels
    * convention) — the previous nested-array-literal form put 64×64 ≈ 4k
    * literal nodes in every rotated plan (and would put 2.4 M in a
    * production 1536-dim rotation), charging every analysis/optimizer pass
    * for parameter data.
    */
  def matVec(v: Column, mat: Array[Array[Double]]): Column =
    ExpressionUtils.column(graft.functions.expressions.MatVecMul(
      ExpressionUtils.expression(asDouble(v)), mat))

  /** Fused single-pass cosine (native codegen Expression): one sequential
    * loop, `dot/(sqrt(na)*sqrt(nb))`; zero norm => null.
    */
  def cosineFused(a: Column, b: Column): Column =
    ExpressionUtils.column(CosineSimilarity(
      ExpressionUtils.expression(asDouble(a)), ExpressionUtils.expression(asDouble(b))))

  /** Sequential left-to-right dot product — deterministic accumulation order
    * (matters for float-exact oracle comparison). The [[dotFused]] kernel.
    */
  def dot(a: Column, b: Column): Column = dotFused(a, b)

  /** Squared L2 norm, a sequential left-to-right sum of squares (native
    * codegen kernel [[graft.functions.expressions.L2NormSq]]).
    */
  def l2NormSq(a: Column): Column =
    ExpressionUtils.column(L2NormSq(ExpressionUtils.expression(asDouble(a))))

  def l2Norm(a: Column): Column = sqrt(l2NormSq(a))

  /** Cosine similarity in [-1, 1]; zero norm => null. The [[cosineFused]]
    * kernel.
    */
  def cosine(a: Column, b: Column): Column = cosineFused(a, b)

  /** Pairwise cosine from precomputed squared norms — identical arithmetic to
    * [[cosine]] (`dot / (sqrt(nsqA) * sqrt(nsqB))`, same op order, so results
    * are bit-identical), but the O(dim) norm reductions run once per row
    * instead of once per pair. On an n×m candidate join this cuts the vector
    * math by ~3× — the difference that matters at 100 TB pair counts.
    */
  def cosineFromNormSq(a: Column, b: Column, nsqA: Column, nsqB: Column): Column = {
    val np = sqrt(nsqA) * sqrt(nsqB)
    when(np =!= 0.0, dotFused(a, b) / np)
  }

  def euclidean(a: Column, b: Column): Column = {
    val (ad, bd) = (asDouble(a), asDouble(b))
    sqrt(aggregate(zip_with(ad, bd, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x))
  }

  /** L2-normalize a vector (unit length); zero vectors pass through as zeros.
    * The norm is materialized via `array_repeat` (evaluated once per row) —
    * referencing the norm aggregate inside the transform lambda would
    * re-evaluate the O(dim) reduction per element (O(dim²) per vector).
    */
  def l2Normalize(a: Column): Column = {
    val ad = asDouble(a)
    zip_with(ad, array_repeat(l2Norm(a), size(ad)),
      (x, n) => when(n > 0.0, x / n).otherwise(x))
  }

  /** Symmetric int8 quantization: q_i = round(x_i / scale * 127) with
    * scale = max|x| — the standard storage/bandwidth optimization for
    * embedding tables (4x smaller than float32, 8x than float64). Rounding is
    * the engine-stable floor form. Returns (scale, q) as two columns via the
    * helpers below; zero vectors quantize to zeros.
    */
  def quantScale(a: Column): Column = array_max(transform(asDouble(a), x => abs(x)))

  def quantizeInt8(a: Column, scale: Column): Column =
    transform(asDouble(a), x =>
      when(scale > 0.0, floor(x / scale * lit(127.0) + lit(0.5)).cast("long")).otherwise(lit(0L)))

  def dequantizeInt8(q: Column, scale: Column): Column =
    transform(q, v => v.cast("double") / lit(127.0) * scale)

  /** Mean of an array of vectors is not needed column-wise here — centroids are
    * computed relationally via posexplode + groupBy (SURVEY §2.4 X-A2) which
    * distributes (per-(label,pos) partial aggregation, no vector-wide state).
    */
}
