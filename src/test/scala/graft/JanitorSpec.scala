package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[graft.pipeline.Janitor.cleanupScratch]]: removes exactly the
  * staged-mutation crash debris (staging siblings, retired .old copies,
  * lock-break files, tombstone-log temps, batch-level staging), never a
  * live root, tombstone log, or retained keepOld generation — and
  * respects a busy root's lock.
  */
class JanitorSpec extends AnyFunSuite with SparkTestSession {
  import graft.pipeline.Janitor

  private def freshBase(): java.nio.file.Path = tempDir("graft_janitor")

  private def mkDir(base: java.nio.file.Path, name: String,
                    withSuccess: Boolean = false, withData: Boolean = true): Unit = {
    val d = base.resolve(name)
    java.nio.file.Files.createDirectories(d)
    if (withData) java.nio.file.Files.writeString(d.resolve("part-0.parquet"), "x")
    if (withSuccess) java.nio.file.Files.writeString(d.resolve("_SUCCESS"), "")
  }

  private def exists(base: java.nio.file.Path, name: String): Boolean =
    java.nio.file.Files.exists(base.resolve(name))

  test("cleanupScratch removes crash debris and only crash debris") {
    val base = freshBase()
    // live artifact root + its deliberate companions
    mkDir(base, "idx", withSuccess = true)
    mkDir(base, "idx.tombstones")
    mkDir(base, "idx.retired-v1", withSuccess = true)
    // crash debris of idx
    mkDir(base, "idx.tmp-0123abcd")           // crashed migration staging
    mkDir(base, "idx.old")                    // failed best-effort cleanup
    mkDir(base, "idx.purge-tmp-00c0ffee")     // crashed purge staging
    java.nio.file.Files.writeString(base.resolve("idx.fslock.break-deadbeef"), "pid=1")
    java.nio.file.Files.writeString(base.resolve("idx.fslock.rel-deadbeef"), "pid=1")
    mkDir(base, "idx.tombstones.compact-12345678")
    mkDir(base, "idx.tombstones.clear-87654321")
    // batch-layout root with batch-level swap debris
    mkDir(base, "hits", withSuccess = true, withData = false)
    mkDir(base, "hits/b0", withSuccess = true)
    mkDir(base, "hits/b0.old")
    mkDir(base, "hits/b3.tmp-0badcafe")
    val removed = Janitor.cleanupScratch(spark, base.toString)
    assert(removed.map(_._2).sorted === Seq("batch-staging", "batch-staging",
      "lock-break", "lock-release", "log-clear", "log-compact",
      "purge-staging", "retired-old", "staging"))
    // debris gone
    for (n <- Seq("idx.tmp-0123abcd", "idx.old", "idx.purge-tmp-00c0ffee",
      "idx.fslock.break-deadbeef", "idx.fslock.rel-deadbeef",
      "idx.tombstones.compact-12345678", "idx.tombstones.clear-87654321",
      "hits/b0.old", "hits/b3.tmp-0badcafe"))
      assert(!exists(base, n), s"$n must be removed")
    // live content, logs, and retained generations stand
    for (n <- Seq("idx/_SUCCESS", "idx/part-0.parquet", "idx.tombstones",
      "idx.retired-v1/part-0.parquet", "hits/b0/_SUCCESS"))
      assert(exists(base, n), s"$n must survive")
    // janitor's own locks are released
    assert(!exists(base, "idx.fslock") && !exists(base, "hits.fslock"))
    // idempotent: a second sweep finds nothing
    assert(Janitor.cleanupScratch(spark, base.toString).isEmpty)
  }

  test("keepRetired=false also removes retained keepOld generations") {
    val base = freshBase()
    mkDir(base, "idx", withSuccess = true)
    mkDir(base, "idx.retired-v1", withSuccess = true)
    mkDir(base, "idx.retired-v2", withSuccess = true)
    assert(Janitor.cleanupScratch(spark, base.toString).isEmpty)
    assert(exists(base, "idx.retired-v1"), "retained generations survive by default")
    val removed = Janitor.cleanupScratch(spark, base.toString, keepRetired = false)
    assert(removed.map(_._2) === Seq("retired-generation", "retired-generation"))
    assert(!exists(base, "idx.retired-v1") && !exists(base, "idx.retired-v2"))
    assert(exists(base, "idx/_SUCCESS"))
  }

  test("crashed-swap survivor: a complete .old/.tmp with no live root is kept") {
    // ADVICE r20 (medium): hard crash between StagedSwap's two renames —
    // live→old done, tmp→live not — leaves `.old` as the ONLY copy of the
    // data (_SUCCESS present in the debris, absent at the live path). The
    // janitor must not destroy it; same for a promoted-complete `.tmp-*`
    // and for batch-level `bN.old` with no live `bN`.
    val base = freshBase()
    mkDir(base, "idx.old", withSuccess = true)         // sole complete copy
    mkDir(base, "idx2.tmp-0123abcd", withSuccess = true) // staged, unpromoted
    mkDir(base, "hits", withSuccess = true, withData = false)
    mkDir(base, "hits/b0.old", withSuccess = true)     // no live hits/b0
    // contrast: debris WITHOUT a success marker, or with a live root, goes
    mkDir(base, "idx3", withSuccess = true)
    mkDir(base, "idx3.old", withSuccess = true)        // live root exists
    mkDir(base, "idx4.old")                            // incomplete debris
    val removed = Janitor.cleanupScratch(spark, base.toString)
    assert(exists(base, "idx.old/_SUCCESS"), "sole surviving copy must be kept")
    assert(exists(base, "idx2.tmp-0123abcd/_SUCCESS"))
    assert(exists(base, "hits/b0.old/_SUCCESS"))
    assert(!exists(base, "idx3.old"), "retired copy of a LIVE root is debris")
    assert(!exists(base, "idx4.old"), "incomplete debris is debris")
    assert(removed.map(_._2).sorted === Seq("retired-old", "retired-old"))
    // after manual promotion (the recovery StagedSwap documents), the
    // survivor becomes ordinary debris and the next sweep removes it
    mkDir(base, "idx", withSuccess = true)
    val removed2 = Janitor.cleanupScratch(spark, base.toString)
    assert(removed2.map(_._1).exists(_.endsWith("idx.old")))
  }

  test("a busy root's debris is skipped, not stolen — and picked up next pass") {
    val base = freshBase()
    mkDir(base, "busy", withSuccess = true)
    mkDir(base, "busy.tmp-0123abcd")
    mkDir(base, "quiet.old")
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(spark.sparkContext.hadoopConfiguration).getRawFileSystem
    val holderIn = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() =>
      graft.pipeline.FsLock.withLock(fs, base.resolve("busy").toString) {
        holderIn.countDown(); release.await()
      })
    holder.start()
    assert(holderIn.await(10, java.util.concurrent.TimeUnit.SECONDS))
    val removed = Janitor.cleanupScratch(spark, base.toString, lockTimeoutMs = 300)
    assert(removed.map(_._1).exists(_.endsWith("quiet.old")),
      "debris of unlocked roots is removed in the same pass")
    assert(exists(base, "busy.tmp-0123abcd"),
      "debris of a locked (in-flight) root must not be touched")
    release.countDown(); holder.join(10000)
    val removed2 = Janitor.cleanupScratch(spark, base.toString, lockTimeoutMs = 5000)
    assert(removed2.map(_._1).exists(_.endsWith("busy.tmp-0123abcd")))
  }
}
