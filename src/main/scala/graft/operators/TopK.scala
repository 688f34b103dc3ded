package graft.operators

import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import graft.functions.MathFunctions.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Top-k similarity search (SURVEY.md §2.5 K1) — the query-side capability the
  * reference delegates to its vector store (reference
  * `vectrekker/main.py:22-23,162-167`, cosine metric).
  *
  * Scale design:
  *  - Single query: score is a codegen'd expression over the corpus scan;
  *    the scoring `Project` runs inside whole-stage codegen as long as the
  *    score holds no higher-order function (each one is a `CodegenFallback`,
  *    which keeps its whole operator out: the norm and dot product are native
  *    kernels) and the query vector is ONE literal ([[vecLit]]), so a
  *    dim-1536 query adds one node, not 1536, to every analysis and
  *    optimizer pass. `orderBy(desc).limit(k)` plans as
  *    `TakeOrderedAndProject` — per-partition heap of size k + driver merge
  *    of k*numPartitions rows. No full sort, no shuffle of the corpus. This
  *    survives a 100 TB corpus untouched.
  *  - Batch of queries: broadcast the (small) query set, crossJoin so each
  *    corpus partition scores all queries locally (corpus never shuffles),
  *    then per-query top-k. For few queries we aggregate per-partition
  *    candidates; the window variant is kept for SQL-oracle parity.
  */
object TopK {

  /** Literal array<double> column from a local query vector: one `Literal`
    * node whatever the dimension. */
  def vecLit(v: Seq[Double]): Column = lit(v.toArray)

  /** Top-k rows of `corpus` by cosine similarity to a literal query vector.
    * Deterministic: ties broken by `idCol`. `roundTo` stabilizes the ordering
    * key across engines (fp sums may differ in the last ulp).
    */
  def topK(corpus: DataFrame, vecCol: String, idCol: String,
           query: Seq[Double], k: Int, roundTo: Int = 6): DataFrame = {
    // query-side norm folded to a literal on the driver (same IEEE value the
    // in-plan sqrt would produce, but not recomputed per corpus row)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val score = {
      val np = sqrt(l2NormSq(col(vecCol))) * lit(qNorm)
      when(np =!= 0.0, dotFused(col(vecCol), vecLit(query)) / np)
    }
    corpus
      .withColumn("score", floorRound(score, roundTo))
      .filter(col("score").isNotNull) // zero-norm rows don't compete
      .orderBy(desc("score"), col(idCol))
      .limit(k) // -> TakeOrderedAndProject, no full sort
  }

  /** Per-query top-k for a batch of queries. `queries` must be broadcastable
    * (it is hinted); the corpus side never shuffles — the window partitions by
    * query id, so the only shuffle is of the scored candidate rows.
    *
    * At very large corpus × query counts, pre-reduce per corpus-partition with
    * a local limit before the window to cap shuffle volume.
    */
  def knnJoin(queries: DataFrame, qIdCol: String, qVecCol: String,
              corpus: DataFrame, cIdCol: String, cVecCol: String,
              k: Int, roundTo: Int = 6, excludeSelf: Boolean = true): DataFrame = {
    // the output carries both id columns, so they must be distinguishable
    require(qIdCol != cIdCol,
      s"knnJoin: query and corpus id columns must have distinct names (both '$qIdCol')")
    // excludeSelf: set false when queries and corpus come from DIFFERENT
    // tables whose ids coincidentally collide
    // internal rename: same-named vector columns on the two sides would fail
    // analysis after the cross join; per-side squared norms computed once per
    // row, not per pair
    val q2 = queries.select(col(qIdCol).as("__knn_qid"), col(qVecCol).as("__knn_qvec"))
      .withColumn("__nsq_q", l2NormSq(col("__knn_qvec")))
    // The corpus vector is copied once per row into a plain double array
    // (`slice` of the whole array): inside whole-stage codegen the pair loop
    // would otherwise read it straight from the parquet batch, decoding a
    // dictionary-encoded column again for every query it meets, and a float
    // column would be cast once per pair.
    val c2 = corpus.select(col(cIdCol).as("__knn_cid"),
        slice(asDouble(col(cVecCol)), 1, Int.MaxValue).as("__knn_cvec"))
      .withColumn("__nsq_c", l2NormSq(col("__knn_cvec")))
    val scored = c2.crossJoin(broadcast(q2))
      .filter(lit(!excludeSelf) || col("__knn_qid") =!= col("__knn_cid"))
      .withColumn("score", floorRound(
        cosineFromNormSq(col("__knn_qvec"), col("__knn_cvec"), col("__nsq_q"), col("__nsq_c")), roundTo))
      // zero-norm rows don't compete; NaN (a NaN vector component) neither —
      // and both output paths must agree on that
      .filter(col("score").isNotNull && !isnan(col("score")))
    if (corpus.schema(cIdCol).dataType == org.apache.spark.sql.types.LongType) {
      // pre-reduced path: bounded top-k aggregation (ObjectHashAggregate with
      // a partial pass) — each corpus partition reduces to ≤ k candidates per
      // query BEFORE the shuffle, so the exchange moves k·partitions·queries
      // rows instead of every scored pair. Same (score desc, id asc) order as
      // the window formulation.
      import graft.functions.expressions.TopKPairsAgg
      import org.apache.spark.sql.{GraftSqlBridge => B}
      val topk = B.column(TopKPairsAgg(
        B.expression(col("score")), B.expression(col("__knn_cid")), k).toAggregateExpression())
      scored.groupBy("__knn_qid").agg(topk.as("__top"))
        .select(col("__knn_qid"), posexplode(col("__top")))
        .select(col("__knn_qid").as(qIdCol), col("col.id").as(cIdCol),
          col("col.score").as("score"), (col("pos") + 1).cast("int").as("rn"))
    } else {
      // generic id types: window formulation (shuffles all scored candidates)
      val w = Window.partitionBy(col("__knn_qid")).orderBy(desc("score"), col("__knn_cid"))
      scored
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("__knn_qid").as(qIdCol), col("__knn_cid").as(cIdCol), col("score"), col("rn"))
    }
  }
}
