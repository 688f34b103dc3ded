package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** File-state cache (SURVEY.md §2.1 S4/S7): the Spark analog of the
  * reference's SQLite table `files(path TEXT PRIMARY KEY, last_edit_time
  * INTEGER)` (reference `vectrekker/main.py:96-102`) — a parquet-backed keyed
  * state table.
  *
  * Writes go through a staging directory + atomic-ish swap so the store can be
  * rewritten from a plan that read it (Spark cannot overwrite an input path
  * in-flight). State is tiny relative to the corpus (one row per file), so a
  * snapshot rewrite per sync is the right trade at any scale: [[Sync]]
  * writes it straight from the (path, mtime) listing and the changed
  * files' cached guard verdicts it already holds, reading no file and no
  * index.
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

  /** Snapshot-overwrite with staging swap (safe when `df` reads this store;
    * renames checked + rollback via [[StagedSwap]]).
    */
  def write(df: DataFrame): Unit = {
    val spark = df.sparkSession
    val p     = new Path(path)
    val tmp   = new Path(path + ".staging")
    val fs    = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val withFlag =
      if (df.columns.contains("too_long")) df
      else df.withColumn("too_long", org.apache.spark.sql.functions.lit(false))
    withFlag.select("path", "last_edit_time", "too_long")
      .write.mode("overwrite").parquet(tmp.toString)
    StagedSwap.swap(fs, tmp, p, new Path(path + ".old"))
  }
}
