package graft

import graft.functions.GraftFunctions
import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("native kernels are callable from SQL text") {
    GraftFunctions.register(spark)
    Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b").createOrReplaceTempView("v")
    val r = spark.sql(
      """SELECT graft_cosine(a, b) AS c, graft_dot(a, b) AS d,
        |  graft_sorted_intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS i
        |FROM v""".stripMargin).head
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 1.0)
    assert(r.getInt(2) === 2)
  }

  test("text kernels and the top-k aggregate are callable from SQL text") {
    GraftFunctions.register(spark)
    Seq(("a b c d", 1L, 0.9), ("a b c d", 2L, 0.8), ("x y z w", 3L, 0.7))
      .toDF("t", "id", "score").createOrReplaceTempView("docs")
    val r = spark.sql(
      """SELECT size(graft_shingle_hashes(t, 2)) AS sh,
        |  size(graft_poly_shingle_hashes(t, 2)) AS psh,
        |  size(graft_poly_minhash(graft_poly_shingle_hashes(t, 2), 8)) AS pmh,
        |  graft_simhash_poly(t) < pow(2, 60) AS sim60,
        |  graft_bpe_count(t) AS bpe
        |FROM docs LIMIT 1""".stripMargin).head
    assert(r.getInt(0) === 3 && r.getInt(1) === 3 && r.getInt(2) === 8)
    assert(r.getBoolean(3))
    assert(r.getInt(4) > 0)
    // the aggregate registers too (analyzer wraps the raw AggregateFunction)
    val top = spark.sql(
      "SELECT graft_topk_pairs(score, id, 2) AS t FROM docs").head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(1)) === Seq(1L, 2L))
  }

  test("top-k aggregates implicitly cast narrower input types at analysis") {
    GraftFunctions.register(spark)
    // INT counts/ids and FLOAT scores: without declared inputTypes these
    // reached update() as the wrong JVM types and threw ClassCastException
    // at execution; ImplicitCastInputTypes coerces them during analysis
    Seq((3, "b", "x", 1, 0.9f), (5, "a", "y", 2, 0.8f))
      .toDF("n", "w1", "w2", "id", "score").createOrReplaceTempView("narrow_in")
    val g = spark.sql("SELECT graft_topk_grams(n, w1, w2, 1) AS t FROM narrow_in")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(g.map(r => (r.getLong(0), r.getString(1))) === Seq((5L, "a")))
    val p = spark.sql("SELECT graft_topk_pairs(score, id, 1) AS t FROM narrow_in")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(p.map(_.getLong(1)) === Seq(1L))
  }
}
