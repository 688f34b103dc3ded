package graft.pipeline

import graft.operators.Upsert
import org.apache.hadoop.fs.Path
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

  /** Rows whose embedding length violates the index dimension. */
  def invalid(vectors: DataFrame): DataFrame =
    vectors.filter(size(col("embedding")) =!= dim)

  /** Last-writer-wins upsert of `vectors` (id, embedding, metadata, version);
    * one key-shuffle, no per-row RPC (the reference does one upsert RPC per
    * vector, `main.py:185`). Staging swap as in [[StateStore]].
    *
    * `deletes` (an `id` column) are erased in the same rewrite: the result
    * equals this upsert followed by [[delete]] of the same ids, so an id in
    * both sets ends up erased — for one staged swap instead of two.
    */
  def upsert(vectors: DataFrame, deletes: Option[DataFrame] = None): Unit = {
    val spark = vectors.sparkSession
    val p     = new Path(path)
    val fs    = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // refuse to mix embedder generations: vectors hashed by a different
    // function would cohabit one metric space and return garbage neighbors
    // with no error anywhere downstream
    embedderId.foreach { eid =>
      storedEmbedderId(fs).foreach { stored =>
        require(stored == eid,
          s"vector index at $path was built by embedder '$stored' but this write uses '$eid'; " +
            "rebuild the index (delete it) or keep the original embedder")
      }
    }
    val valid  = vectors.filter(size(col("embedding")) === dim)
    val merged = Upsert.merge(read(spark), valid.select("id", "embedding", "metadata", "version"),
      Seq("id"), "version")
    writeSwapped(spark, fs, p, deletes.fold(merged)(erase(merged, _)))
  }

  /** Delete rows by key — the erase half the reference lacks entirely
    * (`main.py:62-68` walks only existing files, so a deleted file's vector
    * lives in Pinecone forever; SURVEY §2.7 flags the anti-join fix as the
    * intended extension, landed here). One broadcast-able anti-join + the
    * same staged swap as [[upsert]]; idempotent — re-deleting removes
    * nothing and rewrites identical content, which is what makes the sync
    * crash-replay (at-least-once) safe.
    */
  def delete(ids: DataFrame): Unit = {
    val spark = ids.sparkSession
    val p     = new Path(path)
    val fs    = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return // nothing indexed — nothing to erase
    writeSwapped(spark, fs, p, erase(read(spark), ids))
  }

  private def erase(rows: DataFrame, ids: DataFrame): DataFrame =
    rows.join(ids.select("id"), Seq("id"), "left_anti")

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
