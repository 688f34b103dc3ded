package graft.streaming

import graft.operators.Sketches
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sketches over structured streams. HyperLogLog is the canonical
  * stream-friendly sketch: the register update (max of rho per bucket) is
  * commutative and idempotent, so a streaming aggregation over micro-batches
  * reaches EXACTLY the register table a batch pass produces — no watermark,
  * no custom state, and at most 2^p rows of aggregation state regardless of
  * stream volume. The estimate therefore shares the batch DuckDB oracle
  * verbatim (where a streaming count-distinct would need unbounded state).
  */
object StreamingSketch {

  /** HLL distinct sketch of `keyCol` over a fixture-table STREAM, drained
    * with AvailableNow, finished with the batch estimate tail (the exact
    * audit column reads the same parquet as a batch relation). Output is
    * identical to [[Sketches.hllDistinct]] on the batch table — verified by
    * the same oracle SQL.
    */
  def hllDistinct(spark: SparkSession, dir: String, file: String,
                  keyCol: String, p: Int = 9): DataFrame =
    hllDistinctFrom(spark, dir, glob = file, schemaFrom = s"$dir/$file",
      keyCol = keyCol, p = p, maxFilesPerTrigger = None)

  /** General form: any glob over `dir`, optional `maxFilesPerTrigger` to
    * force MULTIPLE micro-batches (the multi-batch-equals-batch test rides
    * this — register max makes batch boundaries invisible by construction).
    */
  def hllDistinctFrom(spark: SparkSession, dir: String, glob: String,
                      schemaFrom: String, keyCol: String, p: Int,
                      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val stream = StreamingAgg.streamTable(spark, dir, glob, Some(schemaFrom), maxFilesPerTrigger)
    val regs = Sketches.hllRegisterStage(stream.select(keyCol), keyCol, p)
      .groupBy("bucket").agg(max("rho").as("mj"))
    // Complete mode: the register table is tiny (<= 2^p rows) and each
    // drain re-emits the full current table — the post-drain relation IS
    // the final register state. State stores sized to the register count.
    val drained = StreamingAgg.drain(regs, "graft_hll", "complete")
    val exact = spark.read.option("pathGlobFilter", glob).parquet(dir)
      .select(col(keyCol)).distinct().agg(count(lit(1)).as("exact_distinct"))
    Sketches.hllFinish(drained, exact, p)
  }

  /** Histogram-quantile sketch over a fixture-table STREAM: bin counts are
    * an additive monoid, so the engine-managed streaming aggregation (≤
    * `bins` state rows, complete mode) reaches exactly the batch histogram
    * whatever the micro-batching, and the quantile finish shares the batch
    * oracle verbatim — the same stream ≡ batch argument as the HLL register
    * max, for the profile statistic (percentiles) every data-quality pass
    * needs.
    */
  def histQuantiles(spark: SparkSession, dir: String, file: String,
                    valueCol: String, lo: Double, hi: Double, bins: Int,
                    qs: Seq[Double]): DataFrame = {
    val counts = StreamingAgg.streamTable(spark, dir, file)
      .filter(Sketches.histValueFilter(col(valueCol)))
      .select(Sketches.histBinCol(col(valueCol), lo, hi, bins).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
    val drained = StreamingAgg.drain(counts, "graft_hist", "complete")
    Sketches.quantilesFromCounts(drained, lo, hi, bins, qs)
  }
}
