package graft

import graft.pipeline.Overlap
import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicBoolean

/** [[graft.pipeline.Overlap.alongside]]: both results on success; on a
  * failure, the side's jobs cancelled, its thread joined, and the first
  * error rethrown with the other suppressed.
  */
class OverlapSpec extends AnyFunSuite with SparkTestSession {

  private def jobGroup = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

  test("alongside returns both results; the side runs on a helper thread under its own job group") {
    val callerGroup = jobGroup
    val ((sideThread, sideGroup, sideSum), mainSum) = Overlap.alongside(spark, "spec") {
      (Thread.currentThread().getName, jobGroup, spark.sparkContext.parallelize(1 to 10, 2).sum())
    }(spark.sparkContext.parallelize(1 to 4, 2).sum())
    assert(sideSum === 55.0 && mainSum === 10.0)
    assert(sideThread.startsWith(Overlap.ThreadPrefix) && sideGroup === sideThread)
    assert(jobGroup === callerGroup, "the caller's job group is left as it was")
  }

  test("a failing main cancels the side's running job and joins its thread") {
    val started  = new CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val e = try intercept[IllegalStateException] {
      Overlap.alongside(spark, "spec") {
        spark.sparkContext.parallelize(1 to 4, 4).map { i => Thread.sleep(60000); i }.count()
      } {
        started.await()
        throw new IllegalStateException("main failed")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert((System.nanoTime() - t0) / 1e9 < 30, "the side's job must be cancelled, not waited out")
    assert(e.getMessage === "main failed")
    assert(e.getSuppressed.toSeq.map(_.getClass) === Seq(classOf[SparkException]))
    assert(leftRunning().isEmpty)
  }

  test("a failing main waits for the side's driver work to end") {
    val sideDone = new AtomicBoolean
    intercept[IllegalStateException] {
      Overlap.alongside(spark, "spec") { Thread.sleep(300); sideDone.set(true) } {
        throw new IllegalStateException("main failed")
      }
    }
    assert(sideDone.get, "alongside threw before its side thread ended")
  }

  test("a failing side lets main finish; the first error is rethrown with the later one suppressed") {
    val mainDone = new AtomicBoolean
    val e = intercept[IllegalArgumentException] {
      Overlap.alongside(spark, "spec")(throw new IllegalArgumentException("side failed")) {
        Thread.sleep(200); mainDone.set(true)
      }
    }
    assert(e.getMessage === "side failed" && mainDone.get)

    val sideFailed = new CountDownLatch(1)
    val both = intercept[IllegalArgumentException] {
      Overlap.alongside(spark, "spec") {
        sideFailed.countDown(); throw new IllegalArgumentException("side failed")
      } {
        sideFailed.await(); Thread.sleep(200); throw new IllegalStateException("main failed")
      }
    }
    assert(both.getMessage === "side failed")
    assert(both.getSuppressed.toSeq.map(_.getMessage) === Seq("main failed"))
  }
}
