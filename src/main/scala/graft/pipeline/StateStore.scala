package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

/** File-state cache (SURVEY.md §2.1 S4/S7): the Spark analog of the
  * reference's SQLite table `files(path TEXT PRIMARY KEY, last_edit_time
  * INTEGER)` (reference `vectrekker/main.py:96-102`) — a parquet-backed keyed
  * state table.
  *
  * State is tiny relative to the corpus (one row per file), so [[Sync]]
  * handles it on the driver: [[load]] reads the whole table into a map and
  * [[save]] writes the next snapshot as one parquet file, both through
  * Spark's Parquet row support ([[DriverParquet]]), with no Spark job. The
  * file is staged and swapped in ([[StagedSwap]]), so a crash never leaves
  * a half-written state. [[read]] gives the same table as a DataFrame, for
  * queries and checks.
  */
final class StateStore(path: String) {

  /** `too_long` is a documented divergence from the reference's two-column
    * SQLite DDL (`main.py:97-101`): recording that a path's CURRENT content
    * sits past the token guard lets the next sync's delta skip it (its
    * mtime is cached like any other file) instead of resurfacing it every
    * run — which previously forced a no-op full index rewrite per sync for
    * a permanently over-long doc (ADVICE r18). Nullable so states written
    * before the column existed read as null (treated as false).
    */
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("last_edit_time", LongType, nullable = false),
    StructField("too_long", BooleanType, nullable = true)))

  def read(spark: SparkSession): DataFrame = {
    val p  = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** The state as `path -> (last_edit_time, too_long)`, read on the driver
    * from every data file of the table (as [[read]] would: names Spark
    * hides, such as `_SUCCESS` and `.crc` files, are skipped). A missing
    * table is empty; a state written before the flag existed, or a null
    * flag, reads as not over-long.
    */
  def load(spark: SparkSession): Map[String, (Long, Boolean)] = {
    val rows = Map.newBuilder[String, (Long, Boolean)]
    DriverParquet.foreachRow(spark, new Path(path), schema) { r =>
      rows += r.getUTF8String(0).toString -> ((r.getLong(1), !r.isNullAt(2) && r.getBoolean(2)))
    }
    rows.result()
  }

  /** Replaces the state with `rows` of (path, last_edit_time, too_long),
    * written on the driver as one parquet file and swapped in.
    */
  def save(spark: SparkSession, rows: Iterable[(String, Long, Boolean)]): Unit = {
    val p   = new Path(path)
    val tmp = new Path(path + ".staging")
    val fs  = DriverParquet.fileSystem(spark, p)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    DriverParquet.write(spark, tmp, schema) { put =>
      rows.foreach { case (file, mtime, tooLong) => put(InternalRow(UTF8String.fromString(file), mtime, tooLong)) }
    }
    StagedSwap.swap(fs, tmp, p, new Path(path + ".old"))
  }
}
