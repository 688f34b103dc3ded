package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileSystem
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.pipeline.FsLock]]: exclusion between threads (the same protocol
  * excludes processes — atomic O_EXCL create), per-thread re-entrancy,
  * release-on-exception, and stale-lock breaking by rename arbitration.
  */
class FsLockSpec extends AnyFunSuite with SparkTestSession {
  import graft.pipeline.FsLock

  private val fs: FileSystem =
    FileSystem.getLocal(new Configuration()).getRawFileSystem

  private def freshRoot(): String =
    tempDir("graft_fslock").resolve("r").toString

  test("withLock: critical sections exclude each other (no lost updates)") {
    val root = freshRoot()
    val counter = java.nio.file.Paths.get(root + ".counter")
    java.nio.file.Files.createDirectories(counter.getParent)
    java.nio.file.Files.writeString(counter, "0")
    // read-modify-write a file-backed counter from 8 threads; without
    // mutual exclusion the interleaved RMW loses updates
    val threads = (1 to 8).map { _ =>
      new Thread(() => {
        for (_ <- 1 to 25) FsLock.withLock(fs, root) {
          val v = java.nio.file.Files.readString(counter).trim.toLong
          java.nio.file.Files.writeString(counter, (v + 1).toString)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(java.nio.file.Files.readString(counter).trim.toLong === 200L)
    assert(!new java.io.File(root + ".fslock").exists(), "lock released")
  }

  test("withLock: per-thread re-entrancy, release on exception") {
    val root = freshRoot()
    val v = FsLock.withLock(fs, root) {
      FsLock.withLock(fs, root) { 7 } // nested same-thread: no self-deadlock
    }
    assert(v === 7)
    intercept[RuntimeException] {
      FsLock.withLock(fs, root) { sys.error("boom") }
    }
    assert(!new java.io.File(root + ".fslock").exists(),
      "lock must release when the body throws")
    // and the root is immediately lockable again
    assert(FsLock.withLock(fs, root) { 1 } === 1)
  }

  test("withLock: a dead holder's lock is broken; a live holder's is respected at ANY age") {
    val root = freshRoot()
    val lock = java.nio.file.Paths.get(root + ".fslock")
    java.nio.file.Files.createDirectories(lock.getParent)
    // a DEAD holder (pid 999999999 cannot exist) breaks regardless of age
    java.nio.file.Files.writeString(lock, "pid=999999999 token=x acquired=0")
    assert(FsLock.withLock(fs, root, timeoutMs = 10000, staleMs = 600000) { 9 } === 9)
    // a LIVE holder (this very process) is respected until timeout — even
    // with an hour-old mtime: age alone never breaks a live holder
    // (review r19: a migration can legitimately hold for longer than any
    // staleness bound)
    java.nio.file.Files.writeString(lock,
      s"pid=${ProcessHandle.current().pid()} token=foreign acquired=0")
    java.nio.file.Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 3600000))
    val t0 = System.currentTimeMillis()
    val e = intercept[RuntimeException] {
      FsLock.withLock(fs, root, timeoutMs = 700, staleMs = 100) { 0 }
    }
    assert(e.getMessage.contains("timed out"))
    assert(System.currentTimeMillis() - t0 >= 700)
    assert(java.nio.file.Files.readString(lock).contains("token=foreign"),
      "the live holder's lock must survive the waiter's timeout untouched")
  }

  test("tryBreakObserved: verify-or-undo — a lock that changed since observation is restored") {
    import org.apache.hadoop.fs.Path
    val root = freshRoot()
    val lockPath = new Path(root + ".fslock")
    val lock = java.nio.file.Paths.get(root + ".fslock")
    java.nio.file.Files.createDirectories(lock.getParent)
    // (a) observation still true: a dead-pid lock breaks and the file goes
    java.nio.file.Files.writeString(lock, "pid=999999999 token=dead acquired=0")
    val observed = "pid=999999999 token=dead acquired=0"
    assert(FsLock.tryBreakObserved(fs, lockPath, observed, staleMs = 600000))
    assert(!java.nio.file.Files.exists(lock))
    // (b) the TOCTOU race (r19 ADVICE): between observing the dead lock and
    // renaming it, another breaker broke it and a NEW LIVE holder created a
    // fresh lock — the rename claims the live holder's file, the verify sees
    // a different payload, and the undo puts it back untouched
    java.nio.file.Files.writeString(lock,
      s"pid=${ProcessHandle.current().pid()} token=freshlive acquired=1")
    assert(!FsLock.tryBreakObserved(fs, lockPath, observed, staleMs = 600000))
    assert(java.nio.file.Files.readString(lock).contains("token=freshlive"),
      "a live holder's lock claimed by a stale observation must be restored")
    assert(java.nio.file.Files.list(lock.getParent).count() === 1,
      "no break debris may remain after the undo")
  }

  test("mtime mode: heartbeat keeps a live long holder unbroken past staleMs") {
    val root = freshRoot()
    val lock = java.nio.file.Paths.get(root + ".fslock")
    FsLock.forceMtimeMode = true
    try {
      // holder holds for 1.5 s with staleMs = 400 ms: WITHOUT the heartbeat
      // the waiter would break at ~400 ms and both would enter; with it the
      // waiter must time out while the holder is alive
      val holderIn = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() => FsLock.withLock(fs, root, staleMs = 400) {
        holderIn.countDown(); Thread.sleep(1500)
      })
      holder.start()
      assert(holderIn.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(600) // well past staleMs — heartbeat must have refreshed
      val e = intercept[RuntimeException] {
        FsLock.withLock(fs, root, timeoutMs = 500, staleMs = 400) { 0 }
      }
      assert(e.getMessage.contains("timed out"),
        "a heartbeating live holder must never be broken by mtime staleness")
      holder.join(30000)
      assert(!java.nio.file.Files.exists(lock), "holder released cleanly")
      // and a crashed holder (no heartbeat) IS breakable: plant a stale lock
      java.nio.file.Files.writeString(lock, "pid=999999999 token=crashed acquired=0")
      java.nio.file.Files.setLastModifiedTime(lock,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 5000))
      assert(FsLock.withLock(fs, root, timeoutMs = 10000, staleMs = 400) { 5 } === 5)
    } finally FsLock.forceMtimeMode = false
  }

  test("withLock: a broken holder cannot delete the next holder's lock on release") {
    val root = freshRoot()
    val lock = java.nio.file.Paths.get(root + ".fslock")
    // simulate: we acquire, someone (wrongly) breaks us and re-acquires —
    // our release must leave THEIR lock standing (ownership check)
    FsLock.withLock(fs, root) {
      java.nio.file.Files.delete(lock) // the "breaker" removed our lock
      java.nio.file.Files.writeString(lock, "pid=1 token=theirs acquired=1")
      1
    }
    assert(java.nio.file.Files.readString(lock).contains("token=theirs"),
      "release must be ownership-checked, never an unconditional delete")
  }
}
