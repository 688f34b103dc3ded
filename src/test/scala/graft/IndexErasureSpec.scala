package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.pipeline.IndexErasure]]: the partitioned index layout and the
  * incremental erasure repair — repaired ≡ rebuilt, untouched partitions'
  * files never rewritten, fully-erased partitions dropped, re-runs no-ops.
  */
class IndexErasureSpec extends AnyFunSuite with SparkTestSession {
  import graft.pipeline.IndexErasure

  private def freshRoot(): String =
    tempDir("graft_erasure").resolve("idx").toString

  private def buildFixture(root: String): Unit = {
    import spark.implicits._
    // 3 cells × 4 rows; payload stands in for PQ codes
    val rows = (0L until 12L).map(i => (i, i % 3, s"code-$i")).toDF("id", "cell", "payload")
    IndexErasure.ensurePartitioned(spark, root, "cell")(rows)
  }

  private def partFiles(root: String, cell: Long): Map[String, Long] = {
    val d = new java.io.File(s"$root/cell=$cell")
    if (!d.exists()) Map.empty
    else d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap
  }

  test("ensurePartitioned clusters output: one file per cell, not one per (task, cell)") {
    import spark.implicits._
    val root = freshRoot()
    // 8 input partitions × 3 cells would write up to 24 part files without
    // the WriteLayout.clusterBy rebalance; clustered, each cell's rows land
    // together — at this size, exactly one file per cell
    val rows = spark.range(0, 120, 1, 8)
      .select(col("id"), (col("id") % 3).as("cell"), concat(lit("c-"), col("id")).as("payload"))
    IndexErasure.ensurePartitioned(spark, root, "cell")(rows)
    (0L until 3L).foreach { c =>
      assert(partFiles(root, c).size === 1,
        s"cell=$c must hold one clustered part file")
    }
    // content unaffected by placement
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 120L))
  }

  test("repairErased: tombstoned rows gone, untouched partition files untouched, manifest exact") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    val before0 = partFiles(root, 0L)
    assert(before0.nonEmpty, "fixture must have a cell=0 partition")
    // erase ids 1 and 4 — both live in cell 1 only
    val tomb = Seq(1L, 4L).toDF("id")
    val manifest = IndexErasure.repairErased(spark, root, "cell",
      touched = Seq(1L), idCol = "id", tombstones = tomb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest.toSeq === Seq((1L, 4L, 2L, 2L)))
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 12L).filterNot(Set(1L, 4L)))
    // the rebuilt-equivalence contract at unit scale: repaired == the
    // partitioned write of the surviving rows (same rows, same cells)
    val cells = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id", "cell").as[(Long, Long)].collect().toSet
    assert(cells === (0L until 12L).filterNot(Set(1L, 4L)).map(i => (i, i % 3)).toSet)
    // untouched partition: identical files, identical mtimes — never rewritten
    assert(partFiles(root, 0L) === before0, "cell=0 files must not be rewritten")
  }

  test("repairErased: fully-erased partition directory is dropped; re-run is a no-op") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    // erase ALL of cell 2 (ids 2, 5, 8, 11)
    val tomb = Seq(2L, 5L, 8L, 11L).toDF("id")
    val m1 = IndexErasure.repairErased(spark, root, "cell", Seq(2L), "id", tomb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m1.toSeq === Seq((2L, 4L, 4L, 0L)))
    assert(!new java.io.File(s"$root/cell=2").exists(),
      "a fully-erased partition must be dropped, not left as stale files")
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("cell").distinct().as[Long].collect().sorted
    assert(got.toSeq === Seq(0L, 1L))
    // idempotence: the same deletion plan again — touched dir is gone, so
    // the repair reports nothing and changes nothing
    val m2 = IndexErasure.repairErased(spark, root, "cell", Seq(2L), "id", tomb).collect()
    assert(m2.isEmpty)
    assert(IndexErasure.readPartitioned(spark, root, "cell").count() === 8L)
  }

  test("repairErased past the observe-fold bound: two-pass fallback, same manifest") {
    import spark.implicits._
    // 60 partitions > ObserveFoldMaxParts (40): exercises the two-pass
    // manifest branch the fixture-sized repairs never hit, and pins that
    // it reports and rewrites exactly like the folded path (same contract,
    // different action shape)
    val root = freshRoot()
    val rows = (0L until 240L).map(i => (i, i % 60, s"code-$i")).toDF("id", "cell", "payload")
    IndexErasure.ensurePartitioned(spark, root, "cell")(rows)
    val tomb = (0L until 240L by 4).toDF("id") // one id per cell (i % 4 == 0 → cells 0,4,8…)
    val manifest = IndexErasure.repairErased(spark, root, "cell",
      touched = (0L until 60L), idCol = "id", tombstones = tomb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(manifest.length === 60)
    manifest.foreach { case (cell, nb, nr, na) =>
      assert(nb === 4L, s"cell $cell")
      val expectRemoved = (0L until 240L by 4).count(_ % 60 == cell)
      assert(nr === expectRemoved && na === nb - nr, s"cell $cell")
    }
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === (0L until 240L).filter(_ % 4 != 0))
  }

  test("appendRows: inserts into touched partitions only, creates new ones, replays are no-ops") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    val before0 = partFiles(root, 0L)
    // delta: one new row in cell 1, one whole NEW cell 3, plus a row whose
    // id already exists (id 4 in cell 1 — must be skipped, not duplicated)
    val delta = Seq((20L, 1L, "code-20"), (21L, 3L, "code-21"), (4L, 1L, "dup"))
      .toDF("id", "cell", "payload")
    graft.pipeline.IndexErasure.appendRows(spark, root, "cell", "id", delta)
    val got = graft.pipeline.IndexErasure.readPartitioned(spark, root, "cell")
      .select("id", "cell").as[(Long, Long)].collect().toSet
    val base = (0L until 12L).map(i => (i, i % 3)).toSet
    assert(got === base + ((20L, 1L)) + ((21L, 3L)),
      "delta rows land in their cells; the existing id is skipped")
    // id 4's payload must be the ORIGINAL (the dup row was dropped)
    val p4 = graft.pipeline.IndexErasure.readPartitioned(spark, root, "cell")
      .filter(col("id") === 4L).select("payload").as[String].head()
    assert(p4 === "code-4")
    // untouched partition files never rewritten
    assert(partFiles(root, 0L) === before0, "cell=0 files must not be rewritten")
    // replay: the same delta again is a no-op
    graft.pipeline.IndexErasure.appendRows(spark, root, "cell", "id", delta)
    assert(graft.pipeline.IndexErasure.readPartitioned(spark, root, "cell").count() === 14L)
  }

  test("purgeBatches: multi-ref purge, fully-emptied batch stays readable, re-run is a no-op") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    val root = tempDir("graft_erasure").resolve("hits").toString
    ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
      Seq((1L, 10L), (2L, 11L), (3L, 10L)).toDF("test_id", "train_id"))
    ArtifactStore.appendBatchIfAbsent(spark, root, 1L)(
      Seq((4L, 10L), (4L, 12L)).toDF("test_id", "train_id"))
    // erasing id 4 and 11 wipes batch 1 ENTIRELY and one row of batch 0 —
    // an emptied batch must stay a readable (schema-bearing) parquet dir
    val tomb = Seq(4L, 11L).toDF("doc_id")
    val m1 = IndexErasure.purgeBatches(spark, root,
      Seq("test_id", "train_id"), tomb, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m1.toSeq === Seq(("b0", 3L, 1L, 2L), ("b1", 2L, 2L, 0L)),
      "manifest reports per-batch before/removed/after exactly")
    val got = ArtifactStore.readBatches(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L), (3L, 10L)),
      "rows referencing a tombstone on EITHER side must go")
    // re-run: nothing left to remove, content unchanged, manifest all-zero
    val m2 = IndexErasure.purgeBatches(spark, root,
      Seq("test_id", "train_id"), tomb, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m2.toSeq === Seq(("b0", 2L, 0L, 2L), ("b1", 0L, 0L, 0L)))
    assert(ArtifactStore.readBatches(spark, root).count() === 2L)
  }

  test("purgeBatches: untouched batches' files are never rewritten") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    val root = tempDir("graft_erasure").resolve("hits").toString
    ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
      Seq((1L, 10L), (2L, 11L)).toDF("test_id", "train_id"))
    ArtifactStore.appendBatchIfAbsent(spark, root, 1L)(
      Seq((3L, 12L)).toDF("test_id", "train_id"))
    def files(b: String): Map[String, Long] = {
      val d = new java.io.File(s"$root/$b")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before1 = files("b1")
    // tombstone hits only batch 0 — batch 1 must keep its exact files
    val m = IndexErasure.purgeBatches(spark, root, Seq("test_id", "train_id"),
      Seq(11L).toDF("doc_id"), "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(2))).toMap
    assert(m === Map("b0" -> 1L, "b1" -> 0L))
    assert(files("b1") === before1, "untouched batch rewritten — purge must be touched-only")
    assert(ArtifactStore.readBatches(spark, root).count() === 2L)
  }

  test("appendRows after erasure: the persisted tombstone log keeps erased ids out") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    // append a delta, then erase one delta id (20) and one base id (1)
    val delta = Seq((20L, 1L, "code-20"), (21L, 0L, "code-21"))
      .toDF("id", "cell", "payload")
    IndexErasure.appendRows(spark, root, "cell", "id", delta)
    val tomb = Seq(20L, 1L).toDF("id")
    IndexErasure.repairErased(spark, root, "cell", Seq(0L, 1L), "id", tomb)
    // ADVERSARIAL REPLAY (ADVICE r17 medium): the same append delivered
    // again AFTER the erasure — at-least-once semantics. Without the log
    // the anti-join against the purged index would resurrect id 20.
    IndexErasure.appendRows(spark, root, "cell", "id", delta)
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().toSet
    assert(!got.contains(20L), "replayed append must not resurrect an erased delta id")
    assert(!got.contains(1L), "erased base id stays gone")
    assert(got.contains(21L), "non-erased delta id survives the replay unchanged")
    // a FRESH append that happens to carry an erased id is also bound
    IndexErasure.appendRows(spark, root, "cell", "id",
      Seq((1L, 1L, "zombie")).toDF("id", "cell", "payload"))
    assert(!IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().contains(1L),
      "erase wins over ANY later append, not just replays")
    // full-scan completeness check: no tombstoned id anywhere in the index
    assert(IndexErasure.erasedIds(spark, root).get
      .join(IndexErasure.readPartitioned(spark, root, "cell"),
        col("__erased_id") === col("id"), "inner").count() === 0L)
  }

  test("appendBatchPurged: a late batch cannot re-introduce purged references") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    val root = tempDir("graft_erasure").resolve("hits").toString
    ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
      Seq((1L, 10L), (2L, 11L)).toDF("test_id", "train_id"))
    IndexErasure.purgeBatches(spark, root, Seq("test_id", "train_id"),
      Seq(11L).toDF("doc_id"), "doc_id")
    // the late batch was computed before the purge: it still carries a
    // reference to the purged id 11 — the log must keep that row out
    IndexErasure.appendBatchPurged(spark, root, 1L, Seq("test_id", "train_id"))(
      Seq((3L, 11L), (4L, 12L)).toDF("test_id", "train_id"))
    val got = ArtifactStore.readBatches(spark, root).as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 10L), (4L, 12L)),
      "late batch lands only its survivor rows")
    // re-keyed re-delivery of the same content: batch id fresh again —
    // content dedup is not this method's job, but purged refs stay out
    IndexErasure.appendBatchPurged(spark, root, 1L, Seq("test_id", "train_id"))(
      Seq((3L, 11L), (4L, 12L)).toDF("test_id", "train_id"))
    assert(ArtifactStore.readBatches(spark, root).count() === 2L, "replay skips")
  }

  test("compactTombstoneLog: one file, same erased set, append still blocked") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    // three separate repairs — three log files
    Seq(Seq(1L), Seq(4L), Seq(7L)).foreach { ids =>
      IndexErasure.repairErased(spark, root, "cell", Seq(1L), "id", ids.toDF("id"))
    }
    def logFiles() = new java.io.File(s"$root.tombstones").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(logFiles() === 3)
    val before = IndexErasure.erasedIds(spark, root).get.as[Long].collect().toSet
    IndexErasure.compactTombstoneLog(spark, root)
    assert(logFiles() === 1, "compaction must leave one file")
    assert(IndexErasure.erasedIds(spark, root).get.as[Long].collect().toSet === before,
      "compaction must not change the erased set")
    assert(before === Set(1L, 4L, 7L))
    // the erase-wins contract survives compaction
    IndexErasure.appendRows(spark, root, "cell", "id",
      Seq((4L, 1L, "zombie")).toDF("id", "cell", "payload"))
    assert(!IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().contains(4L))
    // idempotent: compacting a compacted log is a no-op
    IndexErasure.compactTombstoneLog(spark, root)
    assert(logFiles() === 1)
  }

  test("repairErasedByKey: touched derived from the tombstones — complete by construction") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root) // cell = id % 3
    val tomb = Seq(1L, 5L, 9L).toDF("id") // cells 1, 2, 0 — all three touched
    val manifest = IndexErasure.repairErasedByKey(spark, root, "cell", "id", tomb)(
      id => pmod(id, lit(3L)))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(manifest.keySet === Set(0L, 1L, 2L), "every holding cell named")
    assert(manifest.values.sum === 3L, "all three tombstoned rows removed")
    val got = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().toSet
    assert(got === (0L until 12L).toSet -- Set(1L, 5L, 9L))
  }

  test("erasedIds: an empty tombstone-log dir (crash debris) reads as no erasure") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    // simulate a crash after the log dir's creation but before any parquet
    // commit (ADVICE r18): dir exists, zero part files — a directory-level
    // read would throw 'Unable to infer schema' and wedge every append
    assert(new java.io.File(s"$root.tombstones").mkdirs())
    assert(IndexErasure.erasedIds(spark, root).isEmpty,
      "an empty log dir must read as 'no erasure has ever run'")
    // and appendRows through the same gate must succeed, not throw
    IndexErasure.appendRows(spark, root, "cell", "id",
      Seq((100L, 1L, "code-100")).toDF("id", "cell", "payload"))
    assert(IndexErasure.readPartitioned(spark, root, "cell")
      .filter(col("id") === 100L).count() === 1L)
  }

  test("purgeBatches: a purge rejected for reserved columns leaves no tombstone log") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    val root = tempDir("graft_erasure").resolve("hits").toString
    // data column collides with the purge machinery's working name
    ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
      Seq((1L, 10L)).toDF("test_id", "__hit"))
    val tomb = Seq(1L).toDF("doc_id")
    intercept[IllegalArgumentException] {
      IndexErasure.purgeBatches(spark, root, Seq("test_id"), tomb, "doc_id")
    }
    // ADVICE r18: the rejected purge must leave NO durable side effects —
    // a logged tombstone whose purge never ran would make appendBatchPurged
    // silently filter ids that still have live references
    assert(IndexErasure.erasedIds(spark, root).isEmpty,
      "a purge that aborted before touching any batch must not log tombstones")
  }

  test("cross-process purge/append race: a racing append cannot resurrect purged refs") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    // r18 verdict task 4: the in-JVM `synchronized` cannot serialize two
    // PROCESSES — without the FsLock protocol a child-JVM append could
    // read the empty tombstone log AND promote its batch after the purge's
    // listing, resurrecting the purged id through the gap. The schedule
    // below is exactly that adversarial window: ONE mid-stream purge, NO
    // post-child purge — any surviving 42-reference is a lock failure.
    val dir = tempDir("graft_purge_race").toString
    val root = s"$dir/hits"
    ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
      Seq((42L, 7L), (50L, 9L)).toDF("test_id", "train_id"))
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def codeSource(c: Class[_]): String =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val cp = Seq(
      codeSource(classOf[PurgeRaceChild.type]),
      codeSource(graft.pipeline.IndexErasure.getClass),
      codeSource(classOf[scala.Option[_]]),
      "/opt/spark/jars/*").mkString(":")
    val rep = s"$dir/rep"
    val nBatches = 10
    val proc = new ProcessBuilder(javaBin, "-Xmx2g", "-cp", cp,
      "graft.PurgeRaceChild", root, nBatches.toString, rep)
      .redirectErrorStream(true).redirectOutput(new java.io.File(s"$dir/child.log"))
      .start()
    // wait until the child has demonstrably started appending, then purge
    // ONCE, mid-stream
    def liveBatches() = new java.io.File(root).listFiles() match {
      case null => 0
      case fsx => fsx.count(f => f.isDirectory && f.getName.matches("b\\d+") &&
        new java.io.File(f, "_SUCCESS").exists())
    }
    val t0 = System.currentTimeMillis()
    while (liveBatches() < 3 && proc.isAlive &&
      System.currentTimeMillis() - t0 < 120000) Thread.sleep(100)
    assert(liveBatches() >= 1, "child never appended — race not exercised")
    IndexErasure.purgeBatches(spark, root, Seq("test_id", "train_id"),
      Seq(42L).toDF("doc_id"), "doc_id")
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS), "child hung")
    val okChild = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(rep)), "UTF-8").split('/').head.toInt
    assert(okChild === nBatches, s"child must append all batches (got $okChild)")
    val rows = ArtifactStore.readBatches(spark, root).as[(Long, Long)].collect()
    assert(!rows.exists(_._1 == 42L),
      "NO 42-reference may survive: every append was either listed by the " +
        "purge (before) or filtered by the log (after) — the FsLock contract")
    // every child batch's unique row landed (the purge didn't eat appends)
    assert(rows.count(_._2 == 8L) === nBatches,
      "all child safe rows must survive")
    assert(rows.exists(r => r._1 == 50L && r._2 == 9L), "base safe row survives")
  }

  test("repairErased: re-running a partial deletion plan is content-neutral") {
    import spark.implicits._
    val root = freshRoot()
    buildFixture(root)
    val tomb = Seq(3L).toDF("id") // cell 0
    IndexErasure.repairErased(spark, root, "cell", Seq(0L), "id", tomb)
    val after1 = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().sorted.toSeq
    val m2 = IndexErasure.repairErased(spark, root, "cell", Seq(0L), "id", tomb)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(m2.toSeq === Seq((0L, 3L, 0L, 3L)), "second pass finds nothing to remove")
    val after2 = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().sorted.toSeq
    assert(after2 === after1)
  }
}
