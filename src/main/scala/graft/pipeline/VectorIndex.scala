package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

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
  * Every write is one keyed rewrite by ids the caller names ([[Sync]]
  * holds them on the driver already), then a staged swap, with no merge of
  * versions — the reference's upsert replaces by id too. The rewrite runs
  * on the driver, as the reference's single process does: the stored rows,
  * copied on a second thread, and the new ones, as they arrive, stream
  * into one file, with no Spark job of its own, no output committer and
  * no planning.
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

  /** The index's write: the index without every row whose id is in `ids`
    * or `erase`, plus the rows of `vectors` (id, embedding, metadata,
    * version) whose id is in `ids` and not in `erase` and whose embedding
    * has the index dimension. The caller names the keys it touches, so the
    * write is a keyed replace: a row of `vectors` replaces the stored row
    * of its id whatever their versions, and an id in both sets ends up
    * erased. `vectors` holds at most one row per id. Returns the rows
    * written. `vectors` runs as one Spark job whose rows stream to the
    * driver ([[DriverParquet.stream]]), which rewrites the index
    * ([[rewrite]]).
    */
  def upsert(vectors: DataFrame, ids: Set[String], erase: Set[String] = Set.empty): Long =
    rewrite(vectors.sparkSession, ids, erase)(
      DriverParquet.stream(vectors.select("id", "embedding", "metadata", "version")))._1

  /** [[upsert]] of the rows `add` puts, rewritten on the driver with no
    * Spark job of its own and no output committer: the stored rows stream
    * from their files into one new file, skipping every id in `ids` or
    * `erase`, while `add` puts its rows, of which those [[upsert]] keeps are
    * written too. The copy of the stored rows runs on a second thread
    * alongside `add` ([[Overlap.alongside]]), so a write costs the slower
    * of the two, not both; rows from both go into the one file under one
    * lock, in no set order (every reader keys by id). A put row holds the
    * index's columns first; a null embedding is not written. A write that
    * would skip no stored row and add none writes nothing. Then the
    * embedder marker and the staged swap. Returns the rows written and the
    * seconds the copy of the stored rows took.
    */
  private[pipeline] def rewrite(spark: SparkSession, ids: Set[String], erase: Set[String])(
      add: (InternalRow => Unit) => Unit): (Long, Double) = {
    val p  = new Path(path)
    val fs = DriverParquet.fileSystem(spark, p)
    requireSameEmbedder(fs)
    val keep = (ids -- erase).map(UTF8String.fromString)
    val skip = (ids ++ erase).map(UTF8String.fromString)
    val tmp  = new Path(path + ".staging")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val touched = new java.util.concurrent.atomic.AtomicLong
    var copyS   = 0.0
    val rows = DriverParquet.write(spark, tmp, schema) { put =>
      val lock = new Object
      copyS = Overlap.alongside(spark, "index-copy") {
        val t0 = System.nanoTime()
        DriverParquet.foreachRow(spark, p, schema) { r =>
          if (skip(r.getUTF8String(0))) touched.incrementAndGet() else lock.synchronized(put(r))
        }
        (System.nanoTime() - t0) / 1e9
      } {
        add { r =>
          if (keep(r.getUTF8String(0)) && !r.isNullAt(1) && r.getArray(1).numElements() == dim) {
            touched.incrementAndGet(); lock.synchronized(put(r))
          }
        }
      }._1
    }
    if (touched.get == 0) { fs.delete(tmp, true); return (0, copyS) }
    // write the new marker — or CARRY the existing one when this writer is
    // unstamped, so a legacy caller can't silently strip the protection off
    // a previously stamped index (the swap replaces the whole directory)
    embedderId.orElse(storedEmbedderId(fs)).foreach { eid =>
      val out = fs.create(markerIn(tmp), true)
      try out.write(eid.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    StagedSwap.swap(fs, tmp, p, new Path(path + ".old"))
    (rows, copyS)
  }

  /** Delete rows by key — the erase half the reference lacks entirely
    * (`main.py:62-68` walks only existing files, so a deleted file's vector
    * lives in Pinecone forever; SURVEY §2.7 flags the anti-join fix as the
    * intended extension, landed here). The ids are collected, then erased
    * by [[rewrite]]; idempotent — re-deleting finds nothing to remove and
    * writes nothing, which is what makes the sync crash-replay
    * (at-least-once) safe.
    */
  def delete(ids: DataFrame): Unit =
    rewrite(ids.sparkSession, Set.empty, ids.select("id").collect().map(_.getString(0)).toSet)(_ => ())

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
}
