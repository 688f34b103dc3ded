package graft.streaming

import graft.functions.MathFunctions.floorRound
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming surface (SURVEY.md §2.7). The reference's
  * "streaming" is a cron batch (reference `README.md:23-36`); the idiomatic
  * Spark analog is the file source + `Trigger.AvailableNow` — incremental,
  * exactly-once per micro-batch, and drained synchronously so results stay
  * batch-comparable (and DuckDB-oracle-checkable).
  */
object StreamingAgg {
  private val counter = new AtomicInteger(0)

  /** The parquet files of `dir` matching `glob` as a file-source stream
    * (schema probed from `schemaFrom` — streaming sources need an explicit
    * schema). `maxFilesPerTrigger` forces one micro-batch per file group,
    * which is how the specs split a fixture across batches.
    */
  private[graft] def streamTable(spark: SparkSession, dir: String, glob: String,
                                 schemaFrom: Option[String] = None,
                                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream
      .schema(spark.read.parquet(schemaFrom.getOrElse(s"$dir/$glob")).schema)
      .option("pathGlobFilter", glob)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
      .parquet(dir)
  }

  /** Drain a streaming frame synchronously with AvailableNow; returns the
    * drained rows. The default sink is memory: its session view is dropped
    * once the returned frame has resolved it, so a drain leaves nothing in
    * the catalog. `fileSink` (output dir, checkpoint dir) writes parquet
    * instead — the form that can resume from its checkpoint across runs.
    *
    * `statePartitions` sizes the state stores: a stateful streaming query
    * pins its state partitioning to `spark.sql.shuffle.partitions` AT FIRST
    * START, and every micro-batch commits every store — so the per-batch
    * floor cost is proportional to the partition count, independent of data.
    * Size it to expected STATE VOLUME (keys held), not to the batch shuffle
    * default: the fixtures hold thousands of keys, where 8 stores cut the
    * q63 stream-stream join from 4.2 s to 1.8 s with identical results. A
    * real deployment with billions of keys raises it; the setting is
    * per-query (restored after the drain, also when it fails), so batch
    * plans are untouched.
    */
  // serializes the set→start→drain→restore window below: interleaved drains
  // would otherwise read each other's overridden value as the "default" and
  // leave the session conf permanently clobbered
  private val drainLock = new Object

  private[graft] def drain(df: DataFrame, prefix: String, mode: String,
                           statePartitions: Int = 8,
                           fileSink: Option[(String, String)] = None): DataFrame = {
    val spark = df.sparkSession
    val name = s"${prefix}_${counter.incrementAndGet()}"
    val writer = df.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
    val sink = fileSink match {
      case None => writer.format("memory").queryName(name)
      case Some((outDir, ckpt)) =>
        writer.format("parquet").option("path", outDir).option("checkpointLocation", ckpt)
    }
    try {
      drainLock.synchronized {
        val before = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
        try sink.start().awaitTermination()
        finally spark.conf.set("spark.sql.shuffle.partitions", before)
      }
      fileSink.fold(spark.table(name)) { case (outDir, _) => spark.read.parquet(outDir) }
    } finally if (fileSink.isEmpty) spark.catalog.dropTempView(name)
  }

  /** Run `onBatch(batch, batchId)` on every micro-batch of `stream` under
    * AvailableNow and return once all currently available input is
    * processed. `foreachBatch` is at-least-once without a checkpoint, so a
    * body must be idempotent per batch (content keys or a batchId guard).
    */
  private[graft] def drainEach(stream: DataFrame, checkpoint: Option[String] = None)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val writer = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) => onBatch(batch, batchId) }
      .trigger(Trigger.AvailableNow())
    checkpoint.fold(writer)(writer.option("checkpointLocation", _))
      .start().awaitTermination()
  }

  /** Stream `df` as one micro-batch per distinct non-empty `batchOf` value
    * and run `onBatch` on each. The seed is ONE partitioned write under a
    * `prefix` temp root: hash-repartitioning on the batch key lands each key
    * in exactly one task, so `partitionBy` emits exactly one file per key
    * and none for an empty key — no micro-batch is empty. The root is
    * deleted when the drain ends, also when a batch body throws. Callers'
    * results must not depend on batch order (the file source orders by
    * modification time, and the seed's files land concurrently).
    */
  private[graft] def drainSeeded(df: DataFrame, batchOf: Column, prefix: String)(
      onBatch: DataFrame => Unit): Unit = {
    val seedRoot = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val seedDir = seedRoot.resolve("in").toString
      df.withColumn("__seed_batch", batchOf)
        .repartition(col("__seed_batch"))
        .write.partitionBy("__seed_batch").parquet(seedDir)
      val stream = df.sparkSession.readStream
        .schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(seedDir)
      drainEach(stream)((batch, _) => onBatch(batch))
    } finally StreamingDrift.deleteTempDir(seedRoot)
  }

  /** Monthly order stats computed *through the streaming engine* over the
    * orders fixture. Result is identical to the equivalent batch aggregation
    * — that equivalence is the oracle check. (orders, not events: the
    * streaming parquet source rejects the events table's TIMESTAMP(NANOS)
    * ts column.)
    */
  def monthlyOrderStats(spark: SparkSession, dir: String): DataFrame = {
    val agg = streamTable(spark, dir, "orders.parquet")
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), floorRound(sum("o_totalprice"), 2).as("total"))
    drain(agg, "graft_stream_monthly", "complete").orderBy("month")
  }

  /** Stream-stream inner equi-join through the streaming engine: both sides
    * are file-source streams; matches accumulate in symmetric join state and
    * emit in append mode as they pair up across micro-batches. (Unbounded
    * corpora would add watermarks + a time-range condition to bound the
    * state; AvailableNow over fixtures doesn't need one.) The oracle is the
    * equivalent batch join.
    */
  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = streamTable(spark, dir, "orders.parquet")
      .filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"))
    val l = streamTable(spark, dir, "lineitem.parquet")
      // mirror the key predicate on BOTH inputs: rows that can never match
      // must not enter the symmetric join state (an inner equi-join lets the
      // same residual apply to each side)
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val joined = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select("o_orderkey", "o_custkey", "l_linenumber", "l_quantity")
    drain(joined, "graft_stream_join", "append").orderBy("o_orderkey", "l_linenumber")
  }

  /** Stateful streaming dedup: the distinct customer-key set computed
    * THROUGH the streaming engine (`dropDuplicates` keeps a state-store
    * entry per seen key and emits each key exactly once across ALL
    * micro-batches — the streaming analog of exact dedup). Key-only output
    * keeps the result deterministic and batch-comparable, which is the
    * oracle check. Unbounded corpora would bound the state with
    * `withWatermark` + `dropDuplicatesWithinWatermark`; AvailableNow over a
    * fixture doesn't need it.
    */
  def distinctCustomers(spark: SparkSession, dir: String): DataFrame = {
    val dedup = streamTable(spark, dir, "orders.parquet")
      .select(col("o_custkey")).dropDuplicates("o_custkey")
    drain(dedup, "graft_stream_dedup", "append").orderBy("o_custkey")
  }

  /** [[distinctCustomers]] with BOUNDED state: `dropDuplicatesWithinWatermark`
    * holds a key only until the watermark passes its event time, instead of
    * forever — the production shape for unbounded streams, where plain
    * `dropDuplicates` state grows with the distinct-key count of all time.
    * The contract weakens accordingly: duplicates are only suppressed while
    * the key is in state, so a key can re-emit after `delay` of event time —
    * the output is distinct per (key, watermark window), deduplicated here
    * to stay comparable with the batch DISTINCT oracle (parity shows the
    * watermark variant LOSES nothing on this data while bounding state).
    */
  def distinctCustomersBounded(spark: SparkSession, dir: String,
                               delay: String = "30 days"): DataFrame =
    boundedDedupDrain(spark, dir, schemaFrom = s"$dir/orders.parquet",
      glob = "orders.parquet", delay = delay, maxFilesPerTrigger = None)
      .dropDuplicates("o_custkey").orderBy("o_custkey")

  /** The raw watermark-bounded dedup drain, BEFORE the final batch-side
    * dropDuplicates — one row per (key, state residency window). Exposed so
    * the loss case is testable: a key recurring after eviction re-emits
    * here (StreamingSpec pins that boundary), which is exactly why
    * [[distinctCustomersBounded]] deduplicates the drained output before
    * comparing against the batch DISTINCT oracle.
    *
    * Eviction timing (measured on Spark 4.1.2, pinned by StreamingSpec):
    * expired `dropDuplicatesWithinWatermark` state is NOT evicted during
    * data-carrying micro-batches, even ones whose eviction watermark is far
    * past the entry's expiry — physical removal happens in the trailing
    * NO-DATA batch that the engine schedules when the watermark advanced
    * (`shouldRunAnotherBatch`). Within a single AvailableNow run every file
    * is discovered up front, so a recurrence always precedes that terminal
    * batch and is suppressed (a suppressed duplicate also EXTENDS the
    * entry's expiry to its own event time + delay). Observing re-emission
    * therefore needs a checkpointed SECOND run after the first run's
    * terminal batch evicted the key — pass `fileSink` (output dir,
    * checkpoint dir) to span runs; the memory sink cannot recover from a
    * checkpoint, so the spanning path writes parquet instead.
    */
  private[graft] def boundedDedupDrain(spark: SparkSession, dir: String,
                                           schemaFrom: String, glob: String,
                                           delay: String,
                                           maxFilesPerTrigger: Option[Int],
                                           fileSink: Option[(String, String)] = None): DataFrame = {
    val dedup = streamTable(spark, dir, glob, Some(schemaFrom), maxFilesPerTrigger)
      // parquet date -> TIMESTAMP_LTZ; watermarks require an event-time col
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withWatermark("o_orderdate", delay)
      .dropDuplicatesWithinWatermark("o_custkey")
      .select(col("o_custkey"))
    drain(dedup, "graft_stream_dedup_wm", "append", fileSink = fileSink)
  }
}
