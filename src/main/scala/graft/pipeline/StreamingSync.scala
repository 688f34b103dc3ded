package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSession

/** Structured-Streaming variant of the incremental sync (SURVEY.md §2.7 /
  * §7 step 4): the binaryFile source + `Trigger.AvailableNow` discovers NEW
  * corpus files incrementally (checkpointed file log), `foreachBatch` embeds
  * and upserts each micro-batch into the vector index. File-source
  * exactly-once (checkpoint) + keyed idempotent upsert => effectively
  * exactly-once end to end. Each micro-batch's paths, collected on the
  * driver, key its index write.
  *
  * Scope note (documented divergence from the batch [[Sync]]): Spark's file
  * source keys discovery by PATH — in-place *modifications* are not re-read.
  * Append-style corpora (the common data-lake shape) are fully covered; for
  * mutable trees, run the mtime-diff batch [[Sync]], whose Delta join
  * handles modification detection exactly.
  */
final class StreamingSync(
    rootDir: String,
    indexPath: String,
    checkpointDir: String,
    embedder: Embedder = HashingEmbedder(64),
    pathRegex: String = ".*\\.md$",
    maxTokens: Int = 8191) {

  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Drain all currently-available new files into the index; returns the
    * number of micro-batches processed.
    */
  def runOnce(spark: SparkSession): Long = {
    val index = new VectorIndex(indexPath, embedder.dim, Some(embedder.id))
    var batches = 0L
    val stream = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      .filter(col("path").rlike(pathRegex))
      .select(
        col("path"),
        unix_timestamp(col("modificationTime")).as("mtime"),
        decode(col("content"), "UTF-8").as("text"))

    graft.streaming.StreamingAgg.drainEach(stream, Some(checkpointDir)) { (batch, _) =>
      // the batch's paths key the index write: an over-long file's stale
      // vector goes too
      val ids = batch.select("path").collect().map(_.getString(0)).toSet
      val ok = batch
        .withColumn("n_tokens", graft.functions.TextFunctions.tokenCount(col("text")))
        .filter(col("n_tokens") < maxTokens)
      val vectors = ok.select(
        col("path").as("id"),
        embedder.embed(col("text")).as("embedding"),
        map().cast("map<string,string>").as("metadata"),
        col("mtime").as("version"))
      index.upsert(vectors, ids)
      batches += 1
    }
    batches
  }
}
