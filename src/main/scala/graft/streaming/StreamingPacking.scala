package graft.streaming

import graft.Tables
import graft.functions.TextFunctions.tokenCount
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAM-MAINTAINED SEQUENCE PACKING — the packing × streaming matrix
  * cell: documents land as micro-batches and receive their GLOBAL training-
  * sequence position (token offset, bin id, in-bin offset) incrementally,
  * without ever rescanning the standing corpus. This is [[graft.operators.Scan.cumSums]]'
  * two-pass Blelloch prefix scan re-applied at INGEST granularity:
  *
  *  - pass 1 (per micro-batch, at arrival): an exclusive token cumsum
  *    WITHIN the batch (micro-batch-sized window — the ingest analog of the
  *    per-partition scan) plus the batch's token total, appended to an
  *    artifact CONTENT-keyed by the batch's minimum doc id;
  *  - pass 2 (at read): each batch's global offset is the sum of the
  *    totals of lower-keyed batches — a parameter-sized window over the
  *    batch-key relation, broadcast back onto the per-doc rows.
  *
  * Because batches carry contiguous id ranges and the reconciliation keys
  * on content (min id), the result is independent of ARRIVAL order and
  * idempotent under replay ([[graft.pipeline.ArtifactStore.appendBatchIfAbsent]]) —
  * a replayed or reordered stream lands the same batch subdirectories and
  * pass 2 recomputes the same offsets. Stream-maintained ≡ the batch global
  * pack, checked against the same window-cumsum oracle.
  *
  * The same offset machinery serves the stream-maintained EXPORT manifest
  * ([[StreamingExport]]): [[streamGlobalOffsets]] is the shared two-pass
  * core, parameterized by the per-batch projection (what each arriving
  * document contributes beyond its token count).
  */
object StreamingPacking {

  /** The shared ingest-granularity prefix scan, generalized to ANY set of
    * summed columns (the streaming twin of [[graft.operators.Scan.cumSums]]):
    * seed the documents table as three contiguous-range micro-batch files,
    * stream them through `foreachBatch`, append each batch's `project`ed
    * rows + within-batch exclusive cumsums + batch totals (content-keyed by
    * min doc id), and reconcile global INCLUSIVE cumsums `cum_<col>` at
    * read from the parameter-sized batch-total relation. Returns project's
    * columns plus one `cum_<col>` per entry of `sumCols`.
    *
    * `project` must emit (doc_id, …) including every `sumCols` column —
    * extras ride the artifact unchanged (e.g. the manifest's source and
    * content hash). Offset-based consumers sum token counts; the CDC
    * manifest sums the 0/1 cut indicator — same pass, different column.
    */
  private[streaming] def streamGlobalCumsums(
      spark: SparkSession, dir: String, hitsName: String,
      project: DataFrame => DataFrame,
      sumCols: Seq[String]): DataFrame = {
    import graft.pipeline.ArtifactStore
    require(sumCols.nonEmpty, "streamGlobalCumsums needs at least one summed column")
    val d = Tables.documents(spark, dir)
    val root = ArtifactStore.rootFor(dir, hitsName)

    // the ingest: three contiguous doc_id ranges, one micro-batch each
    // (ordered ranges are what a real ingest's file naming gives; the
    // content-keyed reconciliation below does NOT depend on arrival order)
    val maxId = d.agg(max("doc_id")).head.getLong(0) // bounded parameter fetch
    val cuts = Seq(0L, maxId / 3 + 1, 2 * maxId / 3 + 1, maxId + 1)
    val rangeOf = when(col("doc_id") < cuts(1), 0L)
      .when(col("doc_id") < cuts(2), 1L).otherwise(2L)
    StreamingAgg.drainSeeded(d, rangeOf, "graft_stream_packing") { batch =>
      // no seeded micro-batch is empty, so the content key is one job
      val batchKey = batch.agg(min("doc_id")).head.getLong(0)
      ArtifactStore.appendBatchIfAbsent(spark, root, batchKey) {
        // pass 1: exclusive cumsums WITHIN the micro-batch (batch-sized
        // window) + the batch totals on every row
        val w = Window.orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val full = Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        sumCols.foldLeft(project(batch)) { (acc, c) =>
          acc.withColumn(s"__within_$c", coalesce(sum(c).over(w), lit(0L)))
            .withColumn(s"__btot_$c", sum(c).over(full))
        }
          // readBatches doesn't expose the subdirectory key — carry the
          // content key on every row for the pass-2 reconciliation
          .withColumn("__batch", lit(batchKey))
      }
    }

    // pass 2: cross-batch offsets from the parameter-sized batch relation
    val rows = ArtifactStore.readBatches(spark, root)
    val batchTotals = rows
      .select(col("__batch") +: sumCols.map(c => col(s"__btot_$c")): _*)
      .distinct()
    val wb = Window.orderBy("__batch").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sumCols.foldLeft(batchTotals) { (acc, c) =>
      acc.withColumn(s"__boff_$c", coalesce(sum(s"__btot_$c").over(wb), lit(0L)))
    }.select(col("__batch") +: sumCols.map(c => col(s"__boff_$c")): _*)
    val joined = rows.join(broadcast(offsets), Seq("__batch"))
    sumCols.foldLeft(joined) { (acc, c) =>
      acc.withColumn(s"cum_$c", col(s"__boff_$c") + col(s"__within_$c") + col(c))
    }.drop("__batch" +:
      sumCols.flatMap(c => Seq(s"__within_$c", s"__btot_$c", s"__boff_$c")): _*)
  }

  /** [[streamGlobalCumsums]] specialized to the token-offset consumers
    * (packing, offset-based export): per-doc rows with the global EXCLUSIVE
    * token offset `start_off`. `project` must emit (doc_id, n_tok, …extras).
    */
  private[streaming] def streamGlobalOffsets(
      spark: SparkSession, dir: String, hitsName: String,
      project: DataFrame => DataFrame): DataFrame =
    streamGlobalCumsums(spark, dir, hitsName, project, Seq("n_tok"))
      .withColumn("start_off", col("cum_n_tok") - col("n_tok"))
      .drop("cum_n_tok")

  /** Per-document global packing assignment maintained from a stream:
    * (doc_id, n_tok, start_off, bin_id, bin_offset), ordered by doc_id —
    * row-identical to the batch global concat-and-chunk at `seqLen`.
    */
  def streamPackedOffsets(spark: SparkSession, dir: String, seqLen: Int,
                          hitsName: String = "packing_offsets_stream_v2"): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val L = lit(seqLen.toLong)
    streamGlobalOffsets(spark, dir, hitsName,
      b => b.select(col("doc_id"), tokenCount(col("text")).cast("long").as("n_tok")))
      .withColumn("bin_id", graft.functions.MathFunctions.longDiv(col("start_off"), L))
      .withColumn("bin_offset", pmod(col("start_off"), L).cast("long"))
      .select("doc_id", "n_tok", "start_off", "bin_id", "bin_offset")
      .orderBy("doc_id")
  }
}
