package graft.pipeline

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession, classic}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

/** Parquet tables read and written on the driver, with no Spark job,
  * through Spark's own Parquet row support: rows are read by
  * `VectorizedParquetRecordReader` and written by the `OutputWriter` that a
  * Spark write task uses (`ParquetWriteSupport`, the session's codec, row
  * groups of Parquet's block size). So a file written here carries the same
  * encodings and Spark row metadata as one Spark's writer leaves, and
  * `spark.read` reads it back with the same types. [[stream]] brings a
  * frame's rows to the driver to be written there.
  *
  * Files the driver creates go through [[fileSystem]]. With no
  * native-hadoop library loaded, Hadoop's local file system sets the mode
  * of every file and directory it creates by starting a `chmod` process:
  * 12 per edit cycle, about 3 ms each, most of the index write's and the
  * state save's time beyond the guard job. So on the
  * `file` scheme these writes use [[LocalFs]], which sets the same mode
  * bits in-process and is otherwise the stock file system: the same
  * `.crc` checksums, renames and deletes. A session that names its own
  * `fs.file.impl` keeps it; the session's conf, Spark's own writes and
  * every other scheme are left as they are.
  */
private[graft] object DriverParquet {

  /** Hadoop's local file system, with file modes set in-process. */
  final class LocalFs extends LocalFileSystem(new RawFs)

  /** Sets a mode made of the 9 permission bits through `java.nio`, as the stock
    * `chmod` would; any other bit, or a file system without POSIX
    * attributes, takes the stock path.
    */
  final class RawFs extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(permission.toString))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  /** The session's Hadoop conf, copied, with [[LocalFs]] as the `file`
    * scheme's file system unless the session names one. Hadoop caches file
    * systems by scheme, not by conf, so this one is not cached.
    */
  private def writeConf(spark: SparkSession): Configuration = {
    val conf = spark.sessionState.newHadoopConf()
    if (conf.get("fs.file.impl") == null) {
      conf.setClass("fs.file.impl", classOf[LocalFs], classOf[FileSystem])
      conf.setBoolean("fs.file.impl.disable.cache", true)
    }
    conf
  }

  /** The file system through which the driver creates, renames and
    * deletes files at `path`.
    */
  def fileSystem(spark: SparkSession, path: Path): FileSystem = path.getFileSystem(writeConf(spark))

  /** The data files of the table at `dir`, as Spark's file index reads
    * them: no hidden name, and no leading `_` (the index keeps `_metadata`
    * names for Parquet, but never reads them). A missing table has none.
    */
  def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter { s =>
      val name = s.getPath.getName
      s.isFile && !GraftSqlBridge.hiddenPathName(name) && !name.startsWith("_")
    }

  /** Calls `f` on every row of every data file of `dir`, read as `schema`:
    * a column the file lacks reads as null. Rows are reused between calls,
    * as in a Spark scan; copy one to keep it.
    */
  def foreachRow(spark: SparkSession, dir: Path, schema: StructType)(f: InternalRow => Unit): Unit = {
    val sql  = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    // what Spark's Parquet scan sets up for its readers
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
        SQLConf.PARQUET_FIELD_ID_READ_ENABLED, SQLConf.PARQUET_IGNORE_VARIANT_ANNOTATION,
        SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION)
      .foreach(e => conf.setBoolean(e.key, sql.getConf(e)))
    dataFiles(dir.getFileSystem(conf), dir).foreach { file =>
      val reader = new VectorizedParquetRecordReader(false, sql.parquetVectorizedReaderBatchSize)
      try {
        reader.initialize(new FileSplit(file.getPath, 0, file.getLen, Array.empty[String]),
          new TaskAttemptContextImpl(conf, new TaskAttemptID()))
        reader.initBatch(new StructType(), InternalRow.empty)
        while (reader.nextKeyValue()) f(reader.getCurrentValue.asInstanceOf[InternalRow])
      } finally reader.close()
    }
  }

  /** Writes the rows `body` puts as one Parquet file of `schema` in `dir`,
    * named like a Spark part file, and returns how many it put. Rows are
    * written as they are put, so a reused row may be put; a row's fields
    * past those of `schema` are not written. `put` is not thread-safe: a
    * `body` that puts from several threads calls it under its own lock
    * ([[VectorIndex.rewrite]]). A `_SUCCESS` marker follows
    * the file, as Spark's committer leaves one: [[Janitor]] keeps a retired
    * copy that has one.
    */
  def write(spark: SparkSession, dir: Path, schema: StructType)(
      body: (InternalRow => Unit) => Unit): Long = {
    val sql     = spark.sessionState.conf
    val job     = Job.getInstance(writeConf(spark))
    val factory = ParquetUtils.prepareWrite(sql, job, schema, new ParquetOptions(Map.empty[String, String], sql))
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val name    = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(context)}"
    val writer  = factory.newInstance(new Path(dir, name).toString, schema, context)
    val fields  = ProjectingInternalRow(schema, schema.indices)
    var rows    = 0L
    try body { row => fields.project(row); writer.write(fields); rows += 1 }
    finally writer.close()
    dir.getFileSystem(job.getConfiguration).create(new Path(dir, "_SUCCESS"), true).close()
    rows
  }

  /** Runs `df` as one Spark job, under one SQL execution as an action
    * does, and calls `f` on the driver with each of its rows as each
    * task's rows arrive, in the order the tasks finish. The driver holds
    * the rows of the tasks that have finished and not yet been handed to
    * `f`, not the whole result; the job's results together still count
    * against `spark.driver.maxResultSize`. `f` runs on the scheduler's
    * thread, one task's rows at a time; once it throws, the job fails with
    * that error as its cause and no later rows reach it.
    */
  def stream(df: DataFrame)(f: InternalRow => Unit): Unit = {
    val qe     = df.asInstanceOf[classic.Dataset[_]].queryExecution
    var failed = false
    SQLExecution.withNewExecutionId(qe, Some("collect")) {
      df.sparkSession.sparkContext.runJob(qe.toRdd,
        (rows: Iterator[InternalRow]) => rows.map(_.copy()).toArray,
        (_: Int, rows: Array[InternalRow]) =>
          if (!failed) try rows.foreach(f) catch { case e: Throwable => failed = true; throw e })
    }
  }
}
