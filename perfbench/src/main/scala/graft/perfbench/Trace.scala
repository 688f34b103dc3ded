package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Work one layer did, summed over the Spark stages attributed to it. */
final class LayerTotals {
  var jobs, tasks, cpuNs, inputBytes, outputRows, outputBytes, shuffleBytes = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A timed call into one layer; `parent` is the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long)

/** Stage accounting keyed by layer, plus in-memory spans.
  *
  * A Spark job belongs to the layer whose source file issued it. The call
  * site comes from the SQL execution the job runs under (its description
  * reads `"<action> at <File>.scala:<line>"`), because the stages AQE
  * submits asynchronously carry a thread-pool call site of their own. Lazy
  * operators such as `TopK` build plans whose action the benchmark runs, so
  * a job whose call site is not an engine file falls back to the innermost
  * open span, which travels with the job as a local property.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val execs      = mutable.Map.empty[Long, (String, Option[Long])]
  private val jobLayer   = mutable.Map.empty[Int, String]
  private val jobStart   = mutable.Map.empty[Int, Long]
  private val stageLayer = mutable.Map.empty[Int, String]
  private val layers     = mutable.Map.empty[String, LayerTotals]
  private val allJobs    = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Stages that scan the corpus through the binaryFile source. */
  var corpusReadMs, corpusReadBytes = 0L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open   = List.empty[Int]
  private var nextId = 0

  /** Times `body` as a span named `<layer>.<call>`; jobs it runs that no
    * engine call site claims are attributed to `<layer>`. */
  def span[A](name: String)(body: => A): A = {
    val id     = nextId
    val parent = open.headOption.getOrElse(-1)
    val prev   = sc.getLocalProperty(LayerProperty)
    nextId += 1
    open = id :: open
    sc.setLocalProperty(LayerProperty, name.substring(0, name.lastIndexOf('.')))
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans.synchronized(spans += Span(id, parent, name, t0, System.currentTimeMillis()))
      open = open.tail
      sc.setLocalProperty(LayerProperty, prev)
    }
  }

  private def layerOfExec(id: Long): Option[String] = execs.get(id).flatMap {
    case (desc, root) => layerOfCallSite(desc).orElse(
      root.filter(_ != id).flatMap(r => execs.get(r)).flatMap(e => layerOfCallSite(e._1)))
  }

  private def totals(layer: String) = layers.getOrElseUpdate(layer, new LayerTotals)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = (s.description, s.rootExecutionId)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => layerOfExec(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty(LayerProperty))))
      .getOrElse("other")
    jobLayer(e.jobId) = layer
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageLayer(_) = layer)
    totals(layer).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { t0 =>
      allJobs += ((t0, e.time))
      totals(jobLayer.getOrElse(e.jobId, "other")).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val t    = totals(stageLayer.getOrElse(info.stageId, "other"))
    val m    = info.taskMetrics
    t.tasks += info.numTasks
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.inputBytes += m.inputMetrics.bytesRead
      t.outputRows += m.outputMetrics.recordsWritten
      t.outputBytes += m.outputMetrics.bytesWritten
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      if (info.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan binaryFile")))) {
        corpusReadMs += m.executorRunTime
        corpusReadBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Delivers every queued event, then returns a consistent view. */
  def snapshot(): (Map[String, LayerTotals], Seq[(Long, Long)]) = {
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    synchronized((layers.toMap, allJobs.toList))
  }

  /** Writes the spans once, as JSON lines. */
  def writeSpans(file: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.write(file, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"

  /** Engine source files whose jobs are attributed to them directly. */
  private val LayerFiles = Map(
    "Sync"        -> "pipeline.Sync",
    "FileScan"    -> "pipeline.FileScan",
    "Delta"       -> "pipeline.Delta",
    "VectorIndex" -> "pipeline.VectorIndex",
    "StateStore"  -> "pipeline.StateStore",
    "StagedSwap"  -> "pipeline.VectorIndex",
    "TopK"        -> "operators.TopK")

  private val CallSite = """ at (\w+)\.scala:\d+""".r.unanchored

  def layerOfCallSite(desc: String): Option[String] = desc match {
    case CallSite(file) => LayerFiles.get(file)
    case _              => None
  }

  /** Total length of the union of `intervals` clipped to [from, to]. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
