package graft.functions

import graft.functions.expressions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}

/** SQL registration of the native graft kernels, so they are callable from
  * `spark.sql` text as well as the Column API:
  *
  *   SELECT graft_cosine(a, b), graft_dot(a, b),
  *          graft_sorted_intersect_count(ha, hb), graft_shingle_hashes(text, 3),
  *          graft_poly_shingle_hashes(text, 3), graft_poly_minhash(hs, 32),
  *          graft_simhash_poly(text), graft_bpe_count(text),
  *          graft_topk_pairs(score, id, 3) ...
  *
  * One shared table drives both this in-process registration and the
  * config-driven [[graft.GraftExtensions]] path, so the two SQL surfaces
  * cannot drift.
  */
object GraftFunctions {

  private[graft] def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
  }

  private[graft] def arity(name: String, es: Seq[Expression], n: Int): Unit =
    require(es.length == n, s"$name expects exactly $n arguments, got ${es.length}")

  private[graft] def arity2(name: String, es: Seq[Expression]): Unit = arity(name, es, 2)

  /** (sql name, expression class for docs, builder). */
  private[graft] val all: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity],
      es => { arity("graft_cosine", es, 2); CosineSimilarity(es.head, es(1)) }),
    ("graft_dot", classOf[DotProduct],
      es => { arity("graft_dot", es, 2); DotProduct(es.head, es(1)) }),
    ("graft_sorted_intersect_count", classOf[SortedIntersectionCount],
      es => { arity("graft_sorted_intersect_count", es, 2); SortedIntersectionCount(es.head, es(1)) }),
    ("graft_shingle_hashes", classOf[ShingleHashes],
      es => { arity("graft_shingle_hashes", es, 2); ShingleHashes(es.head, intLit(es(1), "graft_shingle_hashes n")) }),
    ("graft_poly_shingle_hashes", classOf[PolyShingleHashes],
      es => { arity("graft_poly_shingle_hashes", es, 2); PolyShingleHashes(es.head, intLit(es(1), "graft_poly_shingle_hashes n")) }),
    ("graft_poly_minhash", classOf[PolyMinHashSignature],
      es => { arity("graft_poly_minhash", es, 2); PolyMinHashSignature(es.head, intLit(es(1), "graft_poly_minhash numHashes")) }),
    ("graft_simhash_poly", classOf[SimHashPoly],
      es => { arity("graft_simhash_poly", es, 1); SimHashPoly(es.head) }),
    ("graft_bpe_count", classOf[BpeTokenCount],
      es => { arity("graft_bpe_count", es, 1); BpeTokenCount(es.head) }),
    // aggregate: the analyzer wraps a raw AggregateFunction returned by a
    // registered builder into an AggregateExpression
    ("graft_topk_pairs", classOf[TopKPairsAgg],
      es => { arity("graft_topk_pairs", es, 3); TopKPairsAgg(es.head, es(1), intLit(es(2), "graft_topk_pairs k")) }),
    ("graft_topk_grams", classOf[TopKGramsAgg],
      es => { arity("graft_topk_grams", es, 4); TopKGramsAgg(es.head, es(1), es(2), intLit(es(3), "graft_topk_grams k")) }),
  )

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
