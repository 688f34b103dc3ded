package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Failed, Outcome, Succeeded, TestSuite, TestSuiteMixin}

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One shared local session across all suites (getOrCreate). A test that
  * passes but leaves work running fails: a live [[graft.pipeline.Overlap]]
  * thread, or an active Spark job.
  */
trait SparkTestSession extends BeforeAndAfterAll with TestSuiteMixin { this: TestSuite =>
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  private val tempDirs = new ConcurrentLinkedQueue[Path]

  /** A new directory under `java.io.tmpdir`, deleted with everything in it
    * when the suite ends.
    */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir
  }

  /** Runs `body` under an in-process JFR recording of `jdk.ProcessStart`
    * and returns its result with the command lines of the processes it
    * started that name `fragment`, such as a spec's own directory: other
    * suites' processes in the same JVM do not name it.
    */
  def processesStarted[T](fragment: String)(body: => T): (T, Seq[String]) = {
    val recording = new jdk.jfr.Recording()
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val result = try body finally recording.stop()
      val dump = Files.createTempFile("graft-processes", ".jfr")
      try {
        recording.dump(dump)
        val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(e => String.valueOf(e.getString("command"))).filter(_.contains(fragment))
        (result, commands)
      } finally Files.deleteIfExists(dump)
    } finally recording.close()
  }

  /** The work still running: live overlap threads, then Spark jobs still
    * active once the listener bus has caught up. A failed job wakes its
    * caller before its end event is posted, so jobs get a few seconds to
    * end; an overlap thread gets none, as the helper joins it before it
    * returns.
    */
  def leftRunning(): Seq[String] = {
    val threads = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(graft.pipeline.Overlap.ThreadPrefix))
      .map(t => s"thread ${t.getName}")
    def jobs = SparkSession.getDefaultSession.toSeq.flatMap { s =>
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(s.sparkContext, 30000)
      s.sparkContext.statusTracker.getActiveJobIds.toSeq.map(id => s"Spark job $id")
    }
    val deadline = System.nanoTime() + 5000000000L
    var active   = jobs
    while (active.nonEmpty && System.nanoTime() < deadline) { Thread.sleep(20); active = jobs }
    threads ++ active
  }

  abstract override def withFixture(test: NoArgTest): Outcome =
    super.withFixture(test) match {
      case Succeeded =>
        val left = leftRunning()
        if (left.isEmpty) Succeeded else Failed(s"the test left work running: ${left.mkString(", ")}")
      case other => other
    }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally tempDirs.asScala.filter(Files.exists(_)).foreach { dir =>
      val tree = Files.walk(dir)
      try tree.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally tree.close()
    }
}
