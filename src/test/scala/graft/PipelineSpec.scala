package graft

import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

/** End-to-end tests of the vectrekker sync pipeline on a temp directory tree
  * (FIXTURES.md §B): the reference's input domain.
  */
class PipelineSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def mkCorpus(): Path = {
    val root = Files.createTempDirectory("graft_corpus")
    Files.createDirectories(root.resolve("sub/nested"))
    Files.writeString(root.resolve("a.md"), "alpha beta gamma")
    Files.writeString(root.resolve("sub/b.md"), "delta epsilon zeta")
    Files.writeString(root.resolve("sub/nested/c.md"), "eta theta iota")
    Files.writeString(root.resolve("ignored.txt"), "not markdown")
    root
  }

  private def touch(p: Path, epochSec: Long): Unit =
    Files.setLastModifiedTime(p, FileTime.fromMillis(epochSec * 1000))

  test("FileScan: recursive walk + regex filter + whole-file text + mtime") {
    val root = mkCorpus()
    val rows = FileScan.scan(spark, root.toString).collect()
    assert(rows.length === 3) // .txt filtered out
    val byName = rows.map(r => r.getString(0).split('/').last -> r.getString(2)).toMap
    assert(byName("a.md") === "alpha beta gamma")
    assert(byName("c.md") === "eta theta iota")
    rows.foreach(r => assert(r.getLong(1) > 0))
  }

  test("Delta: missing => 0, strict >") {
    val scan  = Seq(("p1", 100L), ("p2", 100L), ("p3", 100L)).toDF("path", "mtime")
    val cache = Seq(("p1", 100L), ("p2", 50L)).toDF("path", "last_edit_time")
    val changed = Delta.changed(scan, cache).select("path").collect().map(_.getString(0)).sorted
    assert(changed.toSeq === Seq("p2", "p3")) // p1 equal -> not stale; p3 missing -> 0
  }

  test("Delta.deleted finds tombstones") {
    val scan  = Seq(("p1", 100L)).toDF("path", "mtime")
    val cache = Seq(("p1", 100L), ("gone", 50L)).toDF("path", "last_edit_time")
    val del = Delta.deleted(scan, cache).select("path").collect().map(_.getString(0))
    assert(del.toSeq === Seq("gone"))
  }

  test("StateStore: empty read, write, staged rewrite from own read") {
    val dir   = Files.createTempDirectory("graft_state").resolve("state").toString
    val store = new StateStore(dir)
    assert(store.read(spark).count() === 0)
    store.write(Seq(("p1", 10L)).toDF("path", "last_edit_time"))
    assert(store.read(spark).head.getLong(1) === 10L)
    // rewrite derived from its own read (staging swap must handle this)
    store.write(store.read(spark).withColumn("last_edit_time", col("last_edit_time") + 1))
    assert(store.read(spark).head.getLong(1) === 11L)
  }

  test("VectorIndex: dimension validation + keyed upsert") {
    val dir = Files.createTempDirectory("graft_index").resolve("index").toString
    val idx = new VectorIndex(dir, 2)
    val v1 = Seq(
      ("a", Seq(1.0, 0.0), Map.empty[String, String], 1L),
      ("bad", Seq(1.0, 0.0, 3.0), Map.empty[String, String], 1L),
    ).toDF("id", "embedding", "metadata", "version")
    idx.upsert(v1)
    assert(idx.read(spark).count() === 1) // 'bad' rejected by dim check
    idx.upsert(Seq(("a", Seq(0.0, 1.0), Map.empty[String, String], 2L)).toDF("id", "embedding", "metadata", "version"))
    val row = idx.read(spark).filter($"id" === "a").head
    assert(row.getSeq[Double](1) === Seq(0.0, 1.0))
    assert(idx.read(spark).count() === 1)
  }

  test("config + CLI lifecycle: TOML load, defaults, dry-run really writes nothing") {
    import graft.pipeline.GraftConfig
    val root  = mkCorpus()
    val state = Files.createTempDirectory("graft_cs").resolve("state").toString
    val index = Files.createTempDirectory("graft_ci").resolve("index").toString
    val conf  = Files.createTempDirectory("graft_cc").resolve("config.toml")
    Files.writeString(conf,
      s"""# graft config (reference-config analog: main.py:19-53)
         |[base]
         |content_folder = "$root"
         |max_tokens = 8191   # trailing comment
         |
         |[index]
         |path = "$index"
         |state_path = "$state"
         |
         |[embedder]
         |dimension_size = 8
         |""".stripMargin)
    // section headers may carry trailing comments too
    Files.writeString(conf, Files.readString(conf).replace("[base]", "[base]  # scan settings"))
    val cfg = GraftConfig.load(conf)
    assert(cfg.contentFolder === root.toString)
    assert(cfg.contentRegex === ".*\\.md$") // default survives
    assert(cfg.dimensionSize === 8)
    val sync = GraftConfig.sync(cfg)
    // dry run: counts reported, NOTHING persisted (the reference's --dry-run
    // bug — main.py:155-156 falls through and indexes anyway — fixed here)
    val dry = sync.run(spark, dryRun = true)
    assert(dry.dryRun && dry.changed === 3 && dry.indexed === 0)
    assert(new VectorIndex(index, 8).read(spark).count() === 0)
    // real run indexes everything the dry run predicted
    val real = sync.run(spark)
    assert(real.indexed === 3)
    assert(new VectorIndex(index, 8).read(spark).count() === 3)
    // typo'd keys fail loudly instead of silently using defaults
    Files.writeString(conf, "[base]\ncontent_folder = \"x\"\ncontent_regx = \"oops\"\n[index]\npath=\"p\"\nstate_path=\"s\"\n")
    val e = intercept[IllegalArgumentException] { GraftConfig.load(conf) }
    assert(e.getMessage.contains("content_regx"))
    // stray text after a quoted value fails loudly too (same philosophy) —
    // but a trailing comment is fine
    Files.writeString(conf, "[base]\ncontent_folder = \"x\" stray\n[index]\npath=\"p\"\nstate_path=\"s\"\n")
    val e2 = intercept[IllegalArgumentException] { GraftConfig.load(conf) }
    assert(e2.getMessage.contains("after closing quote"))
    Files.writeString(conf, "[base]\ncontent_folder = \"x\" # a comment\n[index]\npath=\"p\"\nstate_path=\"s\"\n")
    assert(GraftConfig.load(conf).contentFolder === "x")
  }

  test("VectorIndex refuses writes from a different embedder generation") {
    val dir = Files.createTempDirectory("graft_index_e").resolve("index").toString
    val rows = Seq(("a", Seq(1.0, 0.0), Map.empty[String, String], 1L))
      .toDF("id", "embedding", "metadata", "version")
    new VectorIndex(dir, 2, Some("embedder-v1")).upsert(rows)
    // same embedder: fine
    new VectorIndex(dir, 2, Some("embedder-v1")).upsert(rows)
    // different embedder: mixed metric spaces -> hard refusal
    val e = intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).upsert(rows)
    }
    assert(e.getMessage.contains("embedder"))
    // unstamped (legacy) writers are not blocked — but must CARRY the
    // existing marker through the swap rather than strip the protection
    new VectorIndex(dir, 2).upsert(rows)
    val e2 = intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).upsert(rows)
    }
    assert(e2.getMessage.contains("embedder-v1"))
  }

  test("Sync end-to-end: full index, empty re-run, single-file re-index, dry run") {
    val root   = mkCorpus()
    val state  = Files.createTempDirectory("graft_s").resolve("state").toString
    val index  = Files.createTempDirectory("graft_i").resolve("index").toString
    // pin mtimes well in the past so the re-touch below is a clean bump
    Seq("a.md", "sub/b.md", "sub/nested/c.md").foreach(f => touch(root.resolve(f), 1000000L))
    val sync = new Sync(root.toString, state, index, HashingEmbedder(8))

    val r1 = sync.run(spark)
    assert(r1.scanned === 3 && r1.changed === 3 && r1.indexed === 3)
    assert(new VectorIndex(index, 8).read(spark).count() === 3)

    val r2 = sync.run(spark) // incremental invariant: nothing changed
    assert(r2.changed === 0 && r2.indexed === 0)

    touch(root.resolve("a.md"), 1000010L) // strict > : newer mtime
    val r3 = sync.run(spark)
    assert(r3.changed === 1 && r3.indexed === 1)

    touch(root.resolve("sub/b.md"), 1000020L)
    val r4 = sync.run(spark, dryRun = true) // correct dry-run (ref bug fixed)
    assert(r4.changed === 1 && r4.indexed === 0)
    val r5 = sync.run(spark)
    assert(r5.changed === 1 && r5.indexed === 1) // dry run left it stale
  }

  test("Sync: deletion propagates to index AND cache; re-create re-indexes; replay converges") {
    val root  = mkCorpus()
    val state = Files.createTempDirectory("graft_sd").resolve("state").toString
    val index = Files.createTempDirectory("graft_id").resolve("index").toString
    Seq("a.md", "sub/b.md", "sub/nested/c.md").foreach(f => touch(root.resolve(f), 1000000L))
    val sync = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 3)

    // delete a file → dry run REPORTS the pending deletion (like it
    // reports pending changes) while performing nothing; the real run
    // erases the vector and the cache row (the reference's forever-stale
    // hole)
    Files.delete(root.resolve("sub/b.md"))
    val dry = sync.run(spark, dryRun = true)
    assert(dry.deleted === 1 && dry.indexed === 0,
      "dry run must surface the pending deletion, not hide it")
    assert(new VectorIndex(index, 8).read(spark).count() === 3) // untouched
    val r1 = sync.run(spark)
    assert(r1.changed === 0 && r1.deleted === 1)
    val idx = new VectorIndex(index, 8)
    assert(idx.read(spark).count() === 2)
    assert(idx.read(spark).filter($"id".endsWith("b.md")).count() === 0)
    assert(new StateStore(state).read(spark).filter($"path".endsWith("b.md")).count() === 0)

    // nothing changed, nothing deleted → empty-run early exit
    val r2 = sync.run(spark)
    assert(r2.changed === 0 && r2.deleted === 0 && r2.indexed === 0)

    // re-create the file → missing-cache ⇒ mtime 0 ⇒ re-indexed
    Files.writeString(root.resolve("sub/b.md"), "delta epsilon zeta again")
    touch(root.resolve("sub/b.md"), 1000050L)
    val r3 = sync.run(spark)
    assert(r3.changed === 1 && r3.indexed === 1 && r3.deleted === 0)
    assert(idx.read(spark).count() === 3)

    // crash replay: simulate a crash AFTER the index delete but BEFORE the
    // cache write — the cache still holds the tombstone, so the next run
    // re-derives it and the idempotent delete converges
    val aId = idx.read(spark).filter($"id".endsWith("a.md")).head.getString(0)
    Files.delete(root.resolve("a.md"))
    idx.delete(Seq(aId).toDF("id")) // "crashed" half-run (index mutated, cache stale)
    assert(idx.read(spark).count() === 2)
    val r4 = sync.run(spark) // replay: full run from the stale cache
    assert(r4.deleted === 1)
    assert(idx.read(spark).count() === 2)
    assert(new StateStore(state).read(spark).count() === 2)
    val r5 = sync.run(spark)
    assert(r5.changed === 0 && r5.deleted === 0) // converged
  }

  test("Sync: over-long documents are filtered, not crashed (P3)") {
    val root  = Files.createTempDirectory("graft_long")
    Files.writeString(root.resolve("long.md"), Seq.fill(9000)("w").mkString(" "))
    Files.writeString(root.resolve("ok.md"), "short doc")
    val state = Files.createTempDirectory("graft_s2").resolve("state").toString
    val index = Files.createTempDirectory("graft_i2").resolve("index").toString
    val sync = new Sync(root.toString, state, index, HashingEmbedder(8))
    val r = sync.run(spark)
    assert(r.changed === 2 && r.skippedTooLong === 1 && r.indexed === 1)
    // skipped docs are recorded in state with a too_long flag (ADVICE r18):
    // they no longer resurface in the delta every run — which previously
    // forced a no-op full index rewrite per sync — so an unchanged corpus
    // now takes the empty-delta early exit and the index files never move
    val idxDir  = java.nio.file.Paths.get(index)
    val before  = java.nio.file.Files.getLastModifiedTime(idxDir)
    val r2 = sync.run(spark)
    assert(r2.changed === 0 && r2.skippedTooLong === 0 && r2.indexed === 0)
    assert(java.nio.file.Files.getLastModifiedTime(idxDir) === before,
      "an unchanged corpus with a known over-long doc must not rewrite the index")
    assert(new StateStore(state).read(spark)
      .filter(org.apache.spark.sql.functions.col("too_long")).count() === 1)
    // an over-long doc EDITED back under the guard re-enters the delta
    // (its cached mtime is real, so strict-> fires) and gets indexed
    Files.writeString(root.resolve("long.md"), "now short")
    java.nio.file.Files.setLastModifiedTime(root.resolve("long.md"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val r3 = sync.run(spark)
    assert(r3.changed === 1 && r3.skippedTooLong === 0 && r3.indexed === 1)
    assert(new StateStore(state).read(spark)
      .filter(org.apache.spark.sql.functions.col("too_long")).count() === 0)
  }

  test("Sync: an edit that makes a doc over-long erases its stale vector") {
    val root  = Files.createTempDirectory("graft_grow")
    val doc   = root.resolve("doc.md")
    Files.writeString(doc, "short enough to index")
    val state = Files.createTempDirectory("graft_s3").resolve("state").toString
    val index = Files.createTempDirectory("graft_i3").resolve("index").toString
    val sync = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 1)
    def indexedIds() = spark.read.parquet(index).select("id")
      .collect().map(_.getString(0)).toSeq
    assert(indexedIds().nonEmpty, "the short version must be indexed")
    // the edit pushes the doc over the token guard: "filtered, not
    // crashed" must apply to the INDEX too — the superseded pre-edit
    // embedding cannot stay retrievable
    Files.writeString(doc, Seq.fill(9000)("w").mkString(" "))
    java.nio.file.Files.setLastModifiedTime(doc,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
    val r = sync.run(spark)
    assert(r.skippedTooLong === 1 && r.indexed === 0)
    assert(indexedIds().isEmpty, "stale pre-edit vector must be erased")
  }

  test("VectorIndex.upsert with deletes equals upsert then delete, in one rewrite") {
    def rows(rs: (String, Seq[Double], Long)*) =
      rs.map { case (id, e, v) => (id, e, Map.empty[String, String], v) }
        .toDF("id", "embedding", "metadata", "version")
    val base = rows(("a", Seq(1.0, 0.0), 1L), ("b", Seq(0.0, 1.0), 1L), ("c", Seq(1.0, 1.0), 1L))
    val vecs = rows(("a", Seq(0.0, 1.0), 2L), ("d", Seq(1.0, 0.0), 2L),
      ("bad", Seq(1.0, 0.0, 0.0), 2L), ("e", Seq(0.5, 0.5), 2L))
    val dels = Seq("b", "e", "absent").toDF("id") // "e" is in both sets
    def fresh(): (String, VectorIndex) = {
      val dir = Files.createTempDirectory("graft_upd").resolve("index").toString
      val idx = new VectorIndex(dir, 2, Some("embedder-v1"))
      idx.upsert(base)
      (dir, idx)
    }
    def content(idx: VectorIndex) = idx.read(spark).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getLong(3))).sortBy(_._1).toSeq

    val (oneDir, one) = fresh()
    one.upsert(vecs, Some(dels))
    val (_, two) = fresh()
    two.upsert(vecs)
    two.delete(dels)
    assert(content(one) === content(two))
    // the id in both sets is erased; the wrong-dimension row is rejected
    assert(content(one).map(_._1) === Seq("a", "c", "d"))
    // no deletes: exactly the rows a plain upsert always wrote
    val (_, three) = fresh()
    three.upsert(vecs, None)
    assert(content(three) === Seq(("a", Seq(0.0, 1.0), 2L), ("b", Seq(0.0, 1.0), 1L),
      ("c", Seq(1.0, 1.0), 1L), ("d", Seq(1.0, 0.0), 2L), ("e", Seq(0.5, 0.5), 2L)))
    // the embedder marker survives the combined rewrite, also from an
    // unstamped writer, and still refuses another embedder
    new VectorIndex(oneDir, 2).upsert(rows(("f", Seq(1.0, 0.0), 3L)), Some(Seq("a").toDF("id")))
    val e = intercept[IllegalArgumentException] {
      new VectorIndex(oneDir, 2, Some("embedder-v2")).upsert(vecs, Some(dels))
    }
    assert(e.getMessage.contains("embedder-v1"))
    assert(content(one).map(_._1) === Seq("c", "d", "f"))
  }

  /** Index ids with versions, and state rows with flags, describe exactly
    * the `.md` files under `root`: every live file is in state with its
    * mtime, and indexed at that mtime unless it is in `tooLong`. */
  private def assertMirrors(root: Path, state: String, index: String, names: Seq[String],
                            tooLong: Set[String]): Unit = {
    val live = names.filter(n => Files.exists(root.resolve(n)))
    def id(n: String) = "file:" + root.resolve(n).toAbsolutePath.normalize.toString
    def mtime(n: String) = Files.getLastModifiedTime(root.resolve(n)).toMillis / 1000
    val idx = new VectorIndex(index, 8).read(spark).select("id", "version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(idx === live.filterNot(tooLong).map(n => id(n) -> mtime(n)).toMap)
    val st = new StateStore(state).read(spark).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(st === live.map(n => id(n) -> ((mtime(n), tooLong(n)))).toMap)
  }

  test("Sync: file names Spark URL-encodes keep their edits, deletes and guard crossings") {
    // content reads are pruned by `_metadata.file_path`, which is
    // URL-encoded (%20, %25, %5B, %7B) where `path` is not: a prune set
    // built from `path` would skip these files' content and still record
    // their new mtime in state — a silently lost edit
    val root  = Files.createTempDirectory("graft_names")
    val names = Seq("sp ace.md", "pct%41.md", "br[1].md", "s d/x{y}.md", "ü.md")
    val long  = Seq.fill(9000)("w").mkString(" ")
    Files.createDirectories(root.resolve("s d"))
    def put(n: String, text: String, t: Long): Unit = {
      Files.writeString(root.resolve(n), text); touch(root.resolve(n), t)
    }
    names.foreach(n => put(n, s"first words of $n", 1000000L))
    val state = Files.createTempDirectory("graft_ns").resolve("state").toString
    val index = Files.createTempDirectory("graft_ni").resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    val r1 = sync.run(spark)
    assert((r1.scanned, r1.changed, r1.skippedTooLong, r1.indexed, r1.deleted) === ((5, 5, 0, 5, 0)))
    assertMirrors(root, state, index, names, Set.empty)

    // an edit, a delete, and a doc pushed over the guard
    put("sp ace.md", "second words", 1000100L)
    Files.delete(root.resolve("pct%41.md"))
    put("br[1].md", long, 1000100L)
    val r2 = sync.run(spark)
    assert((r2.scanned, r2.changed, r2.skippedTooLong, r2.indexed, r2.deleted) === ((4, 2, 1, 1, 1)))
    assertMirrors(root, state, index, names, Set("br[1].md"))

    // cut back under the guard, plus two more edits
    put("br[1].md", "short again", 1000200L)
    put("s d/x{y}.md", "third words", 1000200L)
    put("ü.md", "fourth words", 1000200L)
    val r3 = sync.run(spark)
    assert((r3.scanned, r3.changed, r3.skippedTooLong, r3.indexed, r3.deleted) === ((4, 3, 0, 3, 0)))
    assertMirrors(root, state, index, names, Set.empty)
    val r4 = sync.run(spark)
    assert(r4.changed === 0 && r4.deleted === 0)
  }

  test("Sync cycle: one index rewrite, and only changed files' content is read") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = Files.createTempDirectory("graft_shape")
    (0 until 20).foreach { i =>
      val f = root.resolve(f"d$i%02d.md")
      Files.writeString(f, s"document $i " + Seq.fill(200)(s"w$i").mkString(" "))
      touch(f, 1000000L)
    }
    val state = Files.createTempDirectory("graft_shs").resolve("state").toString
    val index = Files.createTempDirectory("graft_shi").resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 20)

    val edited = root.resolve("d03.md")
    Files.writeString(edited, "an edited document")
    touch(edited, 1000100L)
    Files.delete(root.resolve("d07.md"))

    // Counted from the executed plans: writes whose output is the index's
    // staging dir, and the binaryFile scans that read `content` (each once,
    // also when a cached frame runs it) with the bytes of the files they
    // selected. Stage inputMetrics cannot tell these bytes apart: a stage
    // reading a cached frame counts its in-memory bytes as input, and the
    // merge's stage also reads the index parquet.
    val staging = new org.apache.hadoop.fs.Path(index + ".staging").toUri.getPath
    val writes  = new java.util.concurrent.atomic.AtomicInteger
    val reads   = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    def contentScans(plan: SparkPlan): Unit = plan.foreach {
      case a: AdaptiveSparkPlanExec => contentScans(a.executedPlan)
      case q: QueryStageExec        => contentScans(q.plan)
      case m: InMemoryTableScanExec => contentScans(m.relation.cachedPlan)
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] &&
          s.requiredSchema.fieldNames.contains("content") => reads.add(s)
      case _ =>
    }
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        qe.analyzed.foreach {
          case c: InsertIntoHadoopFsRelationCommand if c.outputPath.toUri.getPath == staging =>
            writes.incrementAndGet()
          case _ =>
        }
        contentScans(qe.executedPlan)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r = try sync.run(spark) finally {
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 30000)
      spark.listenerManager.unregister(listener)
    }
    assert(r.changed === 1 && r.indexed === 1 && r.deleted === 1)
    assert(writes.get === 1, "one staged index rewrite per cycle")
    import scala.jdk.CollectionConverters._
    val bytesRead = reads.asScala.toSeq.map(_.metrics("filesSize").value).sum
    assert(reads.size === 1 && bytesRead === Files.size(edited),
      s"${reads.size} content scans read $bytesRead bytes for a ${Files.size(edited)}-byte delta")
  }

  test("Sync: a run that fails leaves nothing cached") {
    val root  = mkCorpus()
    val state = Files.createTempDirectory("graft_fs").resolve("state").toString
    val index = Files.createTempDirectory("graft_fi").resolve("index").toString
    Seq("a.md", "sub/b.md", "sub/nested/c.md").foreach(f => touch(root.resolve(f), 1000000L))
    assert(new Sync(root.toString, state, index, HashingEmbedder(8)).run(spark).indexed === 3)
    touch(root.resolve("a.md"), 1000100L)
    val other = new Embedder {
      def dim = 8
      def id  = "another-embedder:dim=8"
      def embed(text: org.apache.spark.sql.Column) = HashingEmbedder(8).embed(text)
    }
    spark.catalog.clearCache() // suites share the session
    val e = intercept[IllegalArgumentException] {
      new Sync(root.toString, state, index, other).run(spark)
    }
    assert(e.getMessage.contains("embedder"))
    assert(spark.sharedState.cacheManager.isEmpty, "a failed sync must not leak cached frames")
  }
}
