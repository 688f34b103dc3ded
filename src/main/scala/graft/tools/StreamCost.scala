package graft.tools

import org.apache.spark.sql.SparkSession

/** Scratch measurement harness (not product surface): the STREAMING
  * FIXED-COST audit (r18 verdict task 7). The streamed twins' wall is
  * dominated by per-micro-batch planning, not data — this decomposes it:
  *
  *  - `null_stream_floor`: the shared seeded driver
  *    ([[graft.streaming.StreamingAgg.drainSeeded]]) with a NO-OP
  *    per-batch action (seed write plus 3 single-file micro-batches under
  *    Trigger.AvailableNow, plus one aggregate job per batch) — the cost a
  *    streamed twin pays before doing ANY work;
  *  - each streamed twin COLD (first run in this artifact generation —
  *    pays per-batch content-keyed artifact builds) and WARM (replay —
  *    appendBatchIfAbsent skips, only the read-side finish runs);
  *  - its batch counterpart under the same timing protocol.
  *
  * The PERF_r19 table reads: streamed_warm ≲ batch + floor means the
  * maintenance path itself is batch-parity and the residual is harness
  * floor; a streamed_warm far above batch + floor names real per-batch
  * work to fix.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... runMain graft.tools.StreamCost
  */
object StreamCost {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time(fn: => Unit): Double = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn
      (System.nanoTime() - t0) / 1e9
    }
    def timeQ(name: String): Double =
      time(graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save())

    // the harness floor: the seeded driver with one aggregate job per batch
    def nullStreamFloor(): Double = {
      import org.apache.spark.sql.functions._
      val d = graft.Tables.documents(spark, dir).select(col("doc_id"))
      time {
        graft.streaming.StreamingAgg.drainSeeded(d, pmod(col("doc_id"), lit(3L)),
            "graft_stream_floor") { b => b.agg(min("doc_id")).head; () }
      }
    }

    // warmup (same rationale as Bench)
    try { timeQ("q01_pricing_summary"); () } catch { case _: Throwable => () }
    val floor1 = nullStreamFloor()
    val floor2 = nullStreamFloor()
    println(f"null_stream_floor            ${floor1}%6.2f s (repeat ${floor2}%5.2f s)")

    // (streamed twin, batch counterpart) pairs — the judge's named trio
    // plus the erasure pair
    val pairs = Seq(
      ("q233_stream_export_cdc_tok", "q227_export_manifest_cdc_tok"),
      ("q239_stream_export_cdc_tttd", "q235_export_manifest_cdc_tttd"),
      ("q247_stream_export_cdc_tttd_backup", "q246_export_manifest_cdc_tttd_backup"),
      ("q266_stream_hits_purge", "q264_hits_purge_manifest"),
      ("q254_stream_erasure_repair", "q248_index_erasure_repair"))
    println(f"${"streamed"}%-28s ${"cold"}%6s ${"warm"}%6s   ${"batch twin"}%-30s ${"wall"}%6s   warm/(batch+floor)")
    for ((sq, bq) <- pairs) {
      try {
        val cold = timeQ(sq)
        val warm = timeQ(sq)
        val batch = timeQ(bq)
        val ratio = warm / (batch + floor2)
        println(f"$sq%-28s $cold%6.2f $warm%6.2f   $bq%-30s $batch%6.2f   $ratio%.2f")
      } catch { case e: Throwable =>
        println(s"$sq SKIP: ${String.valueOf(e.getMessage).take(100)}")
      }
    }
    spark.stop()
  }
}
