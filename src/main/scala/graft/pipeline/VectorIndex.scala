package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Vector index table (SURVEY.md §2.1 S5/S6): the Spark analog of the
  * reference's Pinecone index — create-if-absent DDL with a fixed dimension
  * (reference `vectrekker/main.py:162-169`) and primary-key upsert
  * (`main.py:185`).
  *
  * Storage is a parquet table `(id, embedding, metadata, version)`; the
  * similarity metric is a property of the *search* operator
  * ([[graft.operators.TopK]]), not of storage. Dimension is enforced at write
  * (validation filter), matching the index-DDL dimension contract.
  *
  * Every write is one [[upsert]] keyed by ids the caller names ([[Sync]]
  * holds them on the driver already): a narrow rewrite plus a staged swap,
  * with no merge of versions — the reference's upsert replaces by id too.
  */
final class VectorIndex(path: String, val dim: Int, embedderId: Option[String] = None) {

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(DoubleType), nullable = false),
    StructField("metadata", MapType(StringType, StringType), nullable = true),
    StructField("version", LongType, nullable = false)))

  // underscore-prefixed => invisible to parquet directory scans (the
  // _SUCCESS convention), so the marker can live inside the index dir and
  // travel with it through the staged swap
  private def markerIn(dir: Path) = new Path(dir, "_graft_embedder")

  private def storedEmbedderId(fs: org.apache.hadoop.fs.FileSystem): Option[String] = {
    val m = markerIn(new Path(path))
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  def read(spark: SparkSession): DataFrame = {
    val p  = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The index's one write: the index without every row whose id is in
    * `ids` or `erase`, plus the rows of `vectors` (id, embedding, metadata,
    * version) whose id is in `ids` and not in `erase` and whose embedding
    * has the index dimension. The caller names the keys it touches, so the
    * write is a keyed replace: a row of `vectors` replaces the stored row
    * of its id whatever their versions, and an id in both sets ends up
    * erased. `vectors` holds at most one row per id.
    *
    * Both key sets ride in the plan as literal sets, so the rewrite is one
    * narrow stage (a filtered index scan unioned with the new rows, no
    * shuffle, no window), then the staged swap. Its output keeps the
    * index's file layout: the union is coalesced to the partition count of
    * the index scan, and a first write (no index yet, or an empty one)
    * lets AQE size its files ([[WriteLayout.clusterBy]]). So a delta runs
    * in as many tasks as the index scan, however large it is.
    */
  def upsert(vectors: DataFrame, ids: Set[String], erase: Set[String] = Set.empty): Unit = {
    val spark = vectors.sparkSession
    val p     = new Path(path)
    val fs    = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireSameEmbedder(fs)
    val keep  = ids -- erase
    val added = vectors.select("id", "embedding", "metadata", "version")
      .filter(size(col("embedding")) === dim && col("id").isin(keep.toSeq: _*))
    val stored = read(spark)
    val kept   = stored.filter(!col("id").isin((ids ++ erase).toSeq: _*))
    // the scan's partition count follows the index's files and bytes
    val parts = stored.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s.inputRDD.getNumPartitions
    }.getOrElse(0)
    val all = kept.unionByName(added)
    writeSwapped(spark, fs, p, if (parts > 0) all.coalesce(parts) else WriteLayout.clusterBy(all))
  }

  /** Delete rows by key — the erase half the reference lacks entirely
    * (`main.py:62-68` walks only existing files, so a deleted file's vector
    * lives in Pinecone forever; SURVEY §2.7 flags the anti-join fix as the
    * intended extension, landed here). The ids are collected, then erased
    * by [[upsert]]; idempotent — re-deleting removes nothing and rewrites
    * identical content, which is what makes the sync crash-replay
    * (at-least-once) safe.
    */
  def delete(ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    val p     = new Path(path)
    val fs    = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return // nothing indexed — nothing to erase
    val erase = ids.select("id").collect().map(_.getString(0)).toSet
    upsert(spark.createDataFrame(java.util.List.of[Row](), schema), Set.empty, erase)
  }

  // refuse to mix embedder generations: vectors hashed by a different
  // function would cohabit one metric space and return garbage neighbors
  // with no error anywhere downstream. Every write checks, deletes too:
  // the swap stamps this writer's id over the stored marker.
  private def requireSameEmbedder(fs: org.apache.hadoop.fs.FileSystem): Unit =
    embedderId.foreach { eid =>
      storedEmbedderId(fs).foreach { stored =>
        require(stored == eid,
          s"vector index at $path was built by embedder '$stored' but this write uses '$eid'; " +
            "rebuild the index (delete it) or keep the original embedder")
      }
    }

  private def writeSwapped(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                           p: Path, content: DataFrame): Unit = {
    val tmp = new Path(path + ".staging")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    content.write.mode("overwrite").parquet(tmp.toString)
    // write the new marker — or CARRY the existing one when this writer is
    // unstamped, so a legacy caller can't silently strip the protection off
    // a previously stamped index (the swap replaces the whole directory)
    embedderId.orElse(storedEmbedderId(fs)).foreach { eid =>
      val out = fs.create(markerIn(tmp), true)
      try out.write(eid.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    StagedSwap.swap(fs, tmp, p, new Path(path + ".old"))
  }
}
