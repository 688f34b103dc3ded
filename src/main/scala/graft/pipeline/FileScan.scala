package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import java.util.regex.Pattern
import scala.collection.mutable.ArrayBuffer

/** Corpus scan (SURVEY.md §2.1 S1-S3, §2.2 P1): recursive directory walk +
  * regex path filter + whole-file read + mtime projection.
  *
  * The reference walks the tree in a single-threaded Python generator
  * (reference `vectrekker/main.py:62-68,139-141`) and reads each file later
  * (`main.py:174`). [[list]] is that walk, on the driver, through the Hadoop
  * `FileSystem` API; [[read]] hands the listed files to Spark's `binaryFile`
  * source, which reads their bytes on the executors as
  * `(path, mtime, text)` rows, listing nothing itself.
  */
object FileScan {

  /** The files under `rootDir` whose qualified path matches `pathRegex`
    * (a `find`, like `rlike` on the `path` column). One sequential
    * `listStatus` walk: no Spark job, whatever the number of directories.
    * It keeps exactly the files a recursive `binaryFile` load of `rootDir`
    * reads: names Spark's file index hides (a leading `.`, a leading `_`
    * without `=`, a `._COPYING_` suffix) are skipped, directories included,
    * and so are zero-length files, which Spark lists but never reads.
    * `rootDir` is a path, not a glob, as in the reference's `os.walk`; a
    * missing `rootDir` throws, it is not an empty corpus.
    */
  def list(spark: SparkSession, rootDir: String,
           pathRegex: String = ".*\\.md$"): Seq[FileStatus] = {
    val root  = new Path(rootDir)
    val fs    = root.getFileSystem(spark.sessionState.newHadoopConf())
    val keep  = Pattern.compile(pathRegex)
    val files = ArrayBuffer.empty[FileStatus]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { s =>
      val name = s.getPath.getName
      if (GraftSqlBridge.hiddenPathName(name)) ()
      else if (s.isDirectory) walk(s.getPath)
      // a file index reads only data files: it also drops the `_metadata`
      // and `_common_metadata` names its listing keeps for Parquet
      else if (!(name.startsWith("_") && !name.contains("=")) && s.getLen > 0 &&
               keep.matcher(s.getPath.toString).find()) files += s
    }
    walk(fs.makeQualified(root))
    files.toSeq
  }

  /** One row per file of `files`: (path, mtime epoch-seconds, text). The
    * `binaryFile` relation sits on a file index seeded with `files`, so
    * building it lists nothing and the scan reads exactly these files.
    */
  def read(spark: SparkSession, files: Seq[FileStatus]): DataFrame = {
    // each file is a root path of the index, and the cache answers each
    // root with that file's status: the index never lists a directory
    val byPath = files.map(f => f.getPath -> f).toMap
    val seeded = new FileStatusCache {
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = byPath.get(path).map(Array(_))
      override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val options = Map("recursiveFileLookup" -> "true")
    val index   = new InMemoryFileIndex(spark, files.map(_.getPath), options, None, seeded)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, new StructType(),
        BinaryFileFormat.schema, None, new BinaryFileFormat, options)(spark))
      .select(
        col("path"),
        // epoch seconds, matching the reference's int(getmtime) (main.py:59)
        unix_timestamp(col("modificationTime")).as("mtime"),
        decode(col("content"), "UTF-8").as("text"))
  }

  /** [[read]] of [[list]]: one row per matching file under `rootDir`. */
  def scan(spark: SparkSession, rootDir: String,
           pathRegex: String = ".*\\.md$"): DataFrame =
    read(spark, list(spark, rootDir, pathRegex))
}
