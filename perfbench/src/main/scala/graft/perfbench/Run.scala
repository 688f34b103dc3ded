package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** One benchmark run: the operation counter, the closed-loop clock, the
  * traced/untraced round switch and the noise record. */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Int, val trace: Boolean) {
  import Run._

  val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark.sparkContext)) else None
  /** Traces the set-up's cold ingest apart from the measured rounds. */
  val ingestTracer: Option[Tracer] = if (trace) Some(new Tracer(spark.sparkContext)) else None
  private var traced = false
  def isTraced: Boolean = traced
  var attempted, failed = 0L
  /** Summed timed-operation seconds of each kept round, by whether it was traced. */
  val roundSeconds = mutable.Map(false -> mutable.ArrayBuffer.empty[Double],
    true -> mutable.ArrayBuffer.empty[Double])
  var tracedRounds, stolenRounds = 0
  /** Seconds from JVM start until the measured loop starts. */
  var setupSeconds = 0.0
  val noise = new Noise

  private type Series = mutable.Map[String, mutable.ArrayBuffer[Double]]
  /** Operation seconds by series name. */
  private val series: Series = mutable.Map.empty
  /** The current measured round's seconds, kept or set aside at its end. */
  private var pending: Series = mutable.Map.empty
  private val stolen: Series  = mutable.Map.empty
  private var measuring, warming = false

  def times(name: String): Seq[Double] = series.get(name).map(_.toSeq).getOrElse(Nil)

  /** Spans are recorded in traced rounds only. */
  def span[A](name: String)(body: => A): A = tracer match {
    case Some(t) if traced => t.span(name)(body)
    case _                 => body
  }

  /** Runs `body` with the set-up tracer attached, in a traced run. */
  def traceIngest[A](body: => A): A = ingestTracer match {
    case Some(t) =>
      spark.sparkContext.addSparkListener(t)
      try body finally { t.snapshot(); spark.sparkContext.removeSparkListener(t) }
    case None => body
  }

  /** Times one operation and checks its output. A throw or a non-empty
    * problem list counts the operation as failed. Outside the warm-up the
    * time joins `name`'s series. */
  def op[A](what: String, name: String)(body: => A)(check: A => Seq[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val res = try Some(body) catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] FAIL $what: ${e.getClass.getName}: ${e.getMessage}")
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    res.foreach { a =>
      System.err.println(f"[perfbench] $what%-12s $dt%.3f s")
      if (!warming) add(if (measuring) pending else series, name, dt)
      val problems = try check(a) catch { case NonFatal(e) => Seq(s"check threw $e") }
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => System.err.println(s"[perfbench] FAIL $what: $p"))
      }
    }
  }

  /** Runs unrecorded warm-up rounds for `warmupSeconds` (set-up: the JIT
    * keeps speeding the first rounds up), then measured rounds until
    * `seconds` have passed and at least `minRounds` were kept.
    *
    * A measured round during which the hypervisor stole more than
    * [[StealLimit]] of the machine's CPU time is set aside: single-query
    * searches slowed by a third in runs with 5-8% steal, so the medians
    * would describe the neighbours rather than the program. Set-aside
    * rounds are counted (`run.stolen_rounds`) and used only if too few
    * rounds were kept by [[MaxWindows]] times `seconds`.
    *
    * In a traced run every second measured round records the trace, so
    * tracing overhead is measured in the same window. */
  def loop(minRounds: Int, warmupSeconds: Double)(round: Int => Unit): Unit = {
    var i = 0
    val warm = System.nanoTime()
    warming = true
    while (i == 0 || (System.nanoTime() - warm) / 1e9 < warmupSeconds) { round(i); i += 1 }
    warming = false
    setupSeconds = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    noise.start()
    measuring = true
    var n, kept = 0
    while ((kept < minRounds || elapsed < seconds) && elapsed < MaxWindows * seconds) {
      traced = tracer.isDefined && n % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(tracer.get)
      val s0 = Noise.stat()
      try round(i)
      finally if (traced) {
        tracer.get.snapshot()
        spark.sparkContext.removeSparkListener(tracer.get)
        tracedRounds += 1
      }
      if (Noise.steal(s0, Noise.stat()) <= StealLimit) {
        merge(pending, series)
        roundSeconds(traced) += pending.valuesIterator.flatten.sum
        kept += 1
      } else {
        merge(pending, stolen)
        stolenRounds += 1
      }
      pending = mutable.Map.empty
      i += 1
      n += 1
    }
    if (kept < minRounds) merge(stolen, series)
    noise.stop()
    measuring = false
    traced = false
  }

  private def add(s: Series, name: String, dt: Double): Unit =
    s.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += dt

  private def merge(from: Series, into: Series): Unit =
    from.foreach { case (k, v) => v.foreach(add(into, k, _)) }
}

object Run {
  /** Share of CPU time stolen by the hypervisor above which a round is set aside. */
  val StealLimit = 0.02
  /** Hard stop of the measured loop, in multiples of `seconds`. */
  val MaxWindows = 1.5
}

/** Machine noise over the measured window: hypervisor steal from
  * `/proc/stat`, and this process's CPU time per wall second. */
final class Noise {
  private var t0, cpu0 = 0L
  private var stat0    = Array.empty[Long]
  var stealFrac, cpuPerWall = 0.0

  private def procCpu(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _                                           => 0L
  }

  def start(): Unit = { t0 = System.nanoTime(); cpu0 = procCpu(); stat0 = Noise.stat() }

  def stop(): Unit = {
    val wall = (System.nanoTime() - t0).toDouble
    cpuPerWall = if (wall > 0) (procCpu() - cpu0) / wall else 0.0
    stealFrac = Noise.steal(stat0, Noise.stat())
  }
}

object Noise {
  /** user nice system idle iowait irq softirq steal, summed over CPUs. */
  def stat(): Array[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").slice(1, 9).map(_.toLong)
    catch { case NonFatal(_) => Array.fill(8)(0L) }

  /** Stolen share of all CPU time between two [[stat]] readings. */
  def steal(before: Array[Long], after: Array[Long]): Double = {
    val d     = after.zip(before).map { case (a, b) => a - b }
    val total = d.sum
    if (total > 0) d(7).toDouble / total else 0.0
  }
}
