package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus scan (SURVEY.md §2.1 S1-S3, §2.2 P1): recursive directory walk +
  * regex path filter + whole-file read + mtime projection.
  *
  * The reference walks the tree in a single-threaded Python generator
  * (reference `vectrekker/main.py:62-68,139-141`) and reads each file later
  * (`main.py:174`). Spark's `binaryFile` source gives the same record shape —
  * `(path, modificationTime, length, content)` — with distributed listing and
  * reading; the regex filter applies before content is materialized
  * (column pruning: a plan that only uses `path`/`mtime` never reads bytes).
  */
object FileScan {

  /** Column holding each row's `_metadata.file_path`: the key Spark prunes
    * listed files by. It is URL-encoded (`sp%20ace.md`) where `path` is not
    * (`sp ace.md`), so file sets handed to [[only]] must come from this
    * column, never be derived from `path`.
    */
  val FileKey = "file"

  /** One row per matching file: (path, mtime epoch-seconds, text, file).
    * The directory is listed here, once; later filters on the returned
    * frame reuse that listing.
    */
  def scan(spark: SparkSession, rootDir: String,
           pathRegex: String = ".*\\.md$"): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(rootDir)
      .filter(col("path").rlike(pathRegex))
      .select(
        col("path"),
        // epoch seconds, matching the reference's int(getmtime) (main.py:59)
        unix_timestamp(col("modificationTime")).as("mtime"),
        decode(col("content"), "UTF-8").as("text"),
        col("_metadata.file_path").as(FileKey))

  /** The rows of `scan` whose [[FileKey]] is in `files`. The filter is on
    * the file-source metadata column, so Spark drops the other listed files
    * before opening any: only these files' bytes are read.
    */
  def only(scan: DataFrame, files: Seq[String]): DataFrame =
    scan.filter(col(FileKey).isin(files: _*))
}
