package graft.pipeline

import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Two pieces of driver work run at the same time, with no work left
  * behind when either fails. The one way `pipeline/` overlaps threads.
  */
private[graft] object Overlap {

  /** Names every helper thread and job group this object starts. */
  val ThreadPrefix = "graft-overlap"

  private val started = new AtomicLong

  /** Runs `side` on a new daemon thread, under a job group of its own, while
    * `main` runs on the caller's thread, and returns both results. If
    * `main` throws, the side's job group is cancelled: its running jobs,
    * with their tasks interrupted, and any job it would start later. Either
    * way the thread is joined before this returns or throws, and when both
    * threw, the error that came first is rethrown with the other one
    * suppressed. A side that throws does not stop `main`, which runs to its
    * end first; `side`'s driver-side work is not interrupted either.
    */
  def alongside[A, B](spark: SparkSession, name: String)(side: => A)(main: => B): (A, B) = {
    val sc    = spark.sparkContext
    val group = s"$ThreadPrefix-$name-${started.incrementAndGet()}"
    @volatile var sideOut: Either[Throwable, A] = null
    val thread = new Thread(() => {
      // keeps the description the thread inherited: SQL executions take it
      sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"), interruptOnCancel = true)
      sideOut = try Right(side) catch { case e: Throwable => Left(e) }
    }, group)
    thread.setDaemon(true)
    thread.start()
    val mainOut   = try Right(main) catch { case e: Throwable => Left(e) }
    val sideFirst = sideOut match { case Left(_) => true; case _ => false }
    def cancel(): Unit = sc.cancelJobGroupAndFutureJobs(group, s"$name: the work alongside it failed")
    if (mainOut.isLeft) cancel() // so that the join does not wait out the side's jobs
    join(thread)
    if (sideOut.isLeft) cancel() // an async job a failed side left running
    (mainOut, sideOut) match {
      case (Right(b), Right(a)) => (a, b)
      case (Left(m), Left(s))   =>
        val (first, second) = if (sideFirst) (s, m) else (m, s)
        if (second ne first) first.addSuppressed(second)
        throw first
      case (Left(m), _) => throw m
      case (_, Left(s)) => throw s
    }
  }

  // an interrupt of the caller must not leave the side thread running
  private def join(thread: Thread): Unit = {
    var interrupted = false
    while (thread.isAlive)
      try thread.join()
      catch { case _: InterruptedException => interrupted = true }
    if (interrupted) Thread.currentThread().interrupt()
  }
}
