package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** STREAM-DRIVEN index erasure — the ingest topology of
  * [[graft.pipeline.IndexErasure.repairErased]]: GDPR deletion requests
  * arrive continuously in production, so the repair is driven by the
  * streaming engine — tombstone micro-batches name their touched
  * partitions map-side (the caller's assignment closure, O(batch·nlist))
  * and repair the standing partitioned index in `foreachBatch`.
  *
  * Replay safety without batch bookkeeping: repair is content-idempotent —
  * a replayed micro-batch finds its ids already gone, removes nothing, and
  * rewrites the touched partitions with identical content (pinned in
  * IndexErasureSpec's re-run leg) — so at-least-once `foreachBatch`
  * delivery needs no content keys here. The final index therefore depends
  * only on (standing index, tombstone SET), not on the micro-batching:
  * streamed repair ≡ one-shot repair ≡ rebuild of the survivors, which is
  * what lets q254 run against q248's oracle shape.
  */
object StreamingErasure {

  /** The shared tombstone-micro-batch driver: `tomb` streamed as up to
    * `nBatches` micro-batches (split by `pmod(idCol, nBatches)`), `onBatch`
    * once per non-empty one. Both erasure topologies — partitioned-index
    * repair and batch-layout purge — are this driver with a different
    * per-batch action.
    */
  private def driveTombstones(idCol: String, tomb: DataFrame, nBatches: Int)(
      onBatch: DataFrame => Unit): Unit =
    StreamingAgg.drainSeeded(tomb, pmod(col(idCol), lit(nBatches.toLong)),
      "graft_stream_erasure")(onBatch)

  /** Repair the partitioned index at `root` once per tombstone
    * micro-batch. `touchedOf` maps a batch to its touched partition values
    * (map-side assignment against the standing quantizer).
    */
  def streamRepair(spark: SparkSession, root: String, partCol: String,
                   idCol: String, tomb: DataFrame, nBatches: Int,
                   touchedOf: DataFrame => Seq[Long]): Unit =
    driveTombstones(idCol, tomb, nBatches) { batch =>
      graft.pipeline.IndexErasure.repairErased(
        spark, root, partCol, touchedOf(batch), idCol, batch)
      ()
    }

  /** Stream-driven purge of a BATCH-LAYOUT id-reference artifact —
    * [[graft.pipeline.IndexErasure.purgeBatches]] driven by tombstone
    * micro-batches in `foreachBatch` (the [[streamRepair]] topology on the
    * hits-table family). Each micro-batch removes exactly the rows
    * referencing its ids; purge is content-idempotent (a replayed batch
    * finds its rows already gone and rewrites nothing — n_removed = 0), so
    * the final artifact depends only on the tombstone SET, not the
    * micro-batching: streamed ≡ one-shot ≡ rebuild-on-survivors.
    */
  def streamPurge(spark: SparkSession, root: String, refCols: Seq[String],
                  idCol: String, tomb: DataFrame, nBatches: Int): Unit =
    driveTombstones(idCol, tomb, nBatches) { batch =>
      graft.pipeline.IndexErasure.purgeBatches(spark, root, refCols, batch, idCol)
      ()
    }
}
