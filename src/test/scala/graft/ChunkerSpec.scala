package graft

import graft.operators.{AnnIndex, Chunker, TopK}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ChunkerSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("chunker: short doc -> one chunk; long doc -> overlapping windows") {
    val docs = Seq(
      (1L, "a b c"),                                   // 3 tokens, 1 chunk
      (2L, (1 to 10).map(i => s"w$i").mkString(" ")),  // 10 tokens, chunk=4 overlap=2
    ).toDF("doc_id", "text")
    val out = Chunker.chunk(docs, "doc_id", "text", chunkTokens = 4, overlap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.filter(_._1 == 1L).toSeq === Seq((1L, 0L, "a b c", 3L)))
    val d2 = out.filter(_._1 == 2L).sortBy(_._2)
    // stride 2: starts at 1,3,5,7 (ceil((10-4)/2)=3 extra chunks)
    assert(d2.map(_._3).toSeq === Seq("w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8", "w7 w8 w9 w10"))
    assert(d2.forall(_._4 == 4L))
  }

  test("chunker: every chunk respects the token bound (the reference's P3 fix)") {
    val out = Chunker.chunk(Tables.documents(spark, sfDir), "doc_id", "text", 64, 16)
    assert(out.filter(col("n_tokens") > 64).count() === 0)
    assert(out.count() >= Tables.documents(spark, sfDir).count()) // >= 1 chunk per doc
  }

  test("kmeans refinement reduces mean within-cell distance vs initial centroids") {
    val emb = Tables.embeddings(spark, sfDir)
    def cost(cents: Array[Seq[Double]]): Double = {
      import graft.functions.VectorFunctions._
      val scores = array(cents.toSeq.map { c =>
        val c2 = c.map(x => x * x).sum
        lit(c2) - lit(2.0) * dot(asDouble(col("embedding")), array(c.map(lit): _*))
      }: _*)
      emb.select((array_min(scores) + l2NormSq(col("embedding"))).as("d2"))
        .agg(avg("d2")).head().getDouble(0)
    }
    val init    = AnnIndex.kmeansCentroids(emb, "embedding", "vec_id", k = 8, iters = 0)
    val refined = AnnIndex.kmeansCentroids(emb, "embedding", "vec_id", k = 8, iters = 3)
    assert(cost(refined) < cost(init))
  }

  test("IVF ANN: k rows per query, deterministic, decent agreement with brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val corpus = emb.select(col("vec_id").as("c_id"), col("embedding"))
    val ivf = AnnIndex.ivfTopK(queries, "q_id", "q_vec", corpus, "c_id", "embedding",
      k = 3, nlist = 16, nprobe = 8)
    val r1 = ivf.collect()
    assert(r1.groupBy(_.getLong(0)).forall(_._2.length <= 3))
    assert(r1.nonEmpty)
    val r2 = AnnIndex.ivfTopK(queries, "q_id", "q_vec", corpus, "c_id", "embedding",
      k = 3, nlist = 16, nprobe = 8).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // with nprobe=half the cells, the true nearest neighbor should usually be
    // found; require it for at least half the queries (fixture is random)
    val brute = TopK.knnJoin(queries, "q_id", "q_vec", corpus, "c_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivfTop1 = r1.filter(_.getLong(3) == 1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = brute.count { case (q, c) => ivfTop1.get(q).contains(c) }
    assert(hits >= brute.size / 2, s"IVF top-1 recall too low: $hits/${brute.size}")
  }
}
