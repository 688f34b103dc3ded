package graft.perfbench

import graft.functions.TextFunctions
import graft.functions.VectorFunctions.{cosineFromNormSq, l2NormSq}
import graft.operators.TopK
import graft.perfbench.Workloads.{Env, Metrics}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, size, sum}

/** Kernel table of a traced run: rows per second of one aggregation over a
  * cached in-memory DataFrame, so neither file reads nor parquet decode
  * enter the figure. Median of three timings each. */
object Kernels {
  private val TextCopies   = 32
  private val VectorCopies = 8

  def table(env: Env): Metrics = {
    val spark = env.spark
    import spark.implicits._
    val texts = env.corpus.docs.valuesIterator.filter(_.tokens < Corpus.MaxTokens)
      .map(d => new String(Files.readAllBytes(d.file), UTF_8)).toSeq
    val textDf = Seq.fill(TextCopies)(texts).flatten.toDF("text").repartition(4).cache()
    val vecs = env.base.index.read(spark).select("embedding")
    val vecDf = Seq.fill(VectorCopies)(vecs).reduce(_ union _).repartition(4)
      .withColumn("nsq", l2NormSq(col("embedding"))).cache()
    val q   = env.queries(0)
    val qSq = q.map(x => x * x).sum

    def rate(df: DataFrame, agg: org.apache.spark.sql.Column): Double = {
      val n = df.count().toDouble // also fills the cache
      Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime()
        df.agg(agg).collect()
        n / ((System.nanoTime() - t0) / 1e9)
      })
    }

    try Map(
      "functions.tokenCount.rows_per_s" ->
        ((rate(textDf, sum(TextFunctions.tokenCount(col("text")))), "1/s")),
      "functions.HashingEmbedder.rows_per_s" ->
        ((rate(textDf, sum(size(env.embedder.embed(col("text"))))), "1/s")),
      "functions.l2NormSq.rows_per_s" ->
        ((rate(vecDf, sum(l2NormSq(col("embedding")))), "1/s")),
      "functions.cosine.rows_per_s" ->
        ((rate(vecDf, sum(cosineFromNormSq(col("embedding"), TopK.vecLit(q.toSeq), col("nsq"), lit(qSq)))), "1/s")))
    finally { textDf.unpersist(); vecDf.unpersist() }
  }
}
