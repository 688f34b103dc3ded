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
    val root = tempDir("graft_corpus")
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

  test("FileScan lists exactly the files Spark's recursive binaryFile load reads") {
    val root = tempDir("graft_parity")
    def put(rel: String, text: String = "some words"): Path = {
      val f = root.resolve(rel)
      Files.createDirectories(f.getParent)
      Files.writeString(f, text)
    }
    // more than 32 subdirectories: Spark lists these with a parallel job
    (0 until 40).foreach(i => put(f"d$i%02d/n$i.md"))
    Seq(".obsidian/w.md", "_drafts/x.md", ".x.md", "_x.md", "k=v/y.md", "_k=v.md",
      "h.md._COPYING_", "_metadata/z.md", "_metadata.md", "notes.txt",
      "sp ace.md", "pct%41.md", "br[1].md", "s d/x{y}.md", "ü.md").foreach(put(_))
    put("empty.md", "")
    def sparkPaths(regex: String): Set[String] =
      spark.read.format("binaryFile").option("recursiveFileLookup", "true").load(root.toString)
        .filter(col("path").rlike(regex)).select("path").as[String].collect().toSet
    for (regex <- Seq(".*\\.md$", ".*", "/d0[0-4]/")) {
      val expected = sparkPaths(regex)
      assert(FileScan.scan(spark, root.toString, regex).select("path").as[String].collect().toSet
        === expected, regex)
      assert(FileScan.list(spark, root.toString, regex).map(_.getPath.toString).toSet === expected, regex)
    }
    assert(sparkPaths(".*").filterNot(_.matches(".*/d\\d+/n\\d+\\.md")).map(_.split('/').last) ===
      Set("y.md", "_k=v.md", "z.md", "notes.txt", "sp ace.md", "pct%41.md", "br[1].md",
        "x{y}.md", "ü.md"))

    // a file emptied after indexing is gone, as Spark's listing has it
    val corpus = mkCorpus()
    Seq("a.md", "sub/b.md", "sub/nested/c.md").foreach(f => touch(corpus.resolve(f), 1000000L))
    val sync = new Sync(corpus.toString, tempDir("graft_pas").resolve("state").toString,
      tempDir("graft_pai").resolve("index").toString, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 3)
    Files.writeString(corpus.resolve("a.md"), "")
    val r = sync.run(spark)
    assert((r.scanned, r.changed, r.skippedTooLong, r.indexed, r.deleted) === ((2, 0, 0, 0, 1)))
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
    val dir   = tempDir("graft_state").resolve("state").toString
    val store = new StateStore(dir)
    assert(store.read(spark).count() === 0 && store.load(spark).isEmpty)
    store.save(spark, Seq(("p1", 10L, false)))
    assert(store.read(spark).head.getLong(1) === 10L)
    // rewrite derived from its own read (staging swap must handle this)
    store.save(spark, store.load(spark).map { case (p, (t, l)) => (p, t + 1, l) })
    assert(store.read(spark).head.getLong(1) === 11L)
    assert(store.load(spark) === Map("p1" -> ((11L, false))))
  }

  test("VectorIndex: dimension validation + keyed upsert") {
    val dir = tempDir("graft_index").resolve("index").toString
    val idx = new VectorIndex(dir, 2)
    val v1 = Seq(
      ("a", Seq(1.0, 0.0), Map.empty[String, String], 1L),
      ("bad", Seq(1.0, 0.0, 3.0), Map.empty[String, String], 1L),
    ).toDF("id", "embedding", "metadata", "version")
    idx.upsert(v1, Set("a", "bad"))
    assert(idx.read(spark).count() === 1) // 'bad' rejected by dim check
    idx.upsert(Seq(("a", Seq(0.0, 1.0), Map.empty[String, String], 2L)).toDF("id", "embedding", "metadata", "version"),
      Set("a"))
    val row = idx.read(spark).filter($"id" === "a").head
    assert(row.getSeq[Double](1) === Seq(0.0, 1.0))
    assert(idx.read(spark).count() === 1)
  }

  test("config + CLI lifecycle: TOML load, defaults, dry-run really writes nothing") {
    import graft.pipeline.GraftConfig
    val root  = mkCorpus()
    val state = tempDir("graft_cs").resolve("state").toString
    val index = tempDir("graft_ci").resolve("index").toString
    val conf  = tempDir("graft_cc").resolve("config.toml")
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
    val dir = tempDir("graft_index_e").resolve("index").toString
    val rows = Seq(("a", Seq(1.0, 0.0), Map.empty[String, String], 1L))
      .toDF("id", "embedding", "metadata", "version")
    new VectorIndex(dir, 2, Some("embedder-v1")).upsert(rows, Set("a"))
    // same embedder: fine
    new VectorIndex(dir, 2, Some("embedder-v1")).upsert(rows, Set("a"))
    // different embedder: mixed metric spaces -> hard refusal
    val e = intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).upsert(rows, Set("a"))
    }
    assert(e.getMessage.contains("embedder"))
    // unstamped (legacy) writers are not blocked — but must CARRY the
    // existing marker through the swap rather than strip the protection
    new VectorIndex(dir, 2).upsert(rows, Set("a"))
    val e2 = intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).upsert(rows, Set("a"))
    }
    assert(e2.getMessage.contains("embedder-v1"))
  }

  test("VectorIndex refuses deletes from a different embedder generation") {
    val dir = tempDir("graft_index_d").resolve("index").toString
    val rows = Seq(("a", Seq(1.0, 0.0), Map.empty[String, String], 1L),
        ("b", Seq(0.0, 1.0), Map.empty[String, String], 1L))
      .toDF("id", "embedding", "metadata", "version")
    val v1 = new VectorIndex(dir, 2, Some("embedder-v1"))
    v1.upsert(rows, Set("a", "b"))
    val e = intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).delete(Seq("a").toDF("id"))
    }
    assert(e.getMessage.contains("embedder-v1"))
    // nothing was written: the marker still reads v1 and both rows remain,
    // so a later v2 upsert is still refused
    val marker = Files.readString(java.nio.file.Paths.get(dir, "_graft_embedder"))
    assert(marker === "embedder-v1")
    assert(v1.read(spark).select("id").as[String].collect().sorted.toSeq === Seq("a", "b"))
    intercept[IllegalArgumentException] {
      new VectorIndex(dir, 2, Some("embedder-v2")).upsert(rows, Set("a"))
    }
  }

  test("Sync end-to-end: full index, empty re-run, single-file re-index, dry run") {
    val root   = mkCorpus()
    val state  = tempDir("graft_s").resolve("state").toString
    val index  = tempDir("graft_i").resolve("index").toString
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
    val state = tempDir("graft_sd").resolve("state").toString
    val index = tempDir("graft_id").resolve("index").toString
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
    val root  = tempDir("graft_long")
    Files.writeString(root.resolve("long.md"), Seq.fill(9000)("w").mkString(" "))
    Files.writeString(root.resolve("ok.md"), "short doc")
    val state = tempDir("graft_s2").resolve("state").toString
    val index = tempDir("graft_i2").resolve("index").toString
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
    val root  = tempDir("graft_grow")
    val doc   = root.resolve("doc.md")
    Files.writeString(doc, "short enough to index")
    val state = tempDir("graft_s3").resolve("state").toString
    val index = tempDir("graft_i3").resolve("index").toString
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
    val ids  = Set("a", "d", "bad", "e")
    val dels = Set("b", "e", "absent") // "e" is in both sets
    def fresh(): (String, VectorIndex) = {
      val dir = tempDir("graft_upd").resolve("index").toString
      val idx = new VectorIndex(dir, 2, Some("embedder-v1"))
      idx.upsert(base, Set("a", "b", "c"))
      (dir, idx)
    }
    def content(idx: VectorIndex) = idx.read(spark).collect()
      .map(r => (r.getString(0), r.getSeq[Double](1), r.getLong(3))).sortBy(_._1).toSeq

    val (oneDir, one) = fresh()
    one.upsert(vecs, ids, dels)
    val (_, two) = fresh()
    two.upsert(vecs, ids)
    two.delete(dels.toSeq.toDF("id"))
    assert(content(one) === content(two))
    // the id in both sets is erased; the wrong-dimension row is rejected
    assert(content(one).map(_._1) === Seq("a", "c", "d"))
    // no deletes: exactly the rows a plain upsert always wrote
    val (_, three) = fresh()
    three.upsert(vecs, ids)
    assert(content(three) === Seq(("a", Seq(0.0, 1.0), 2L), ("b", Seq(0.0, 1.0), 1L),
      ("c", Seq(1.0, 1.0), 1L), ("d", Seq(1.0, 0.0), 2L), ("e", Seq(0.5, 0.5), 2L)))
    // keyed, not versioned: a lower version replaces a stored higher one,
    // and a row whose id is not a key is not written
    three.upsert(rows(("a", Seq(1.0, 1.0), 0L), ("g", Seq(1.0, 1.0), 0L)), Set("a"))
    assert(content(three).take(2) === Seq(("a", Seq(1.0, 1.0), 0L), ("b", Seq(0.0, 1.0), 1L)))
    assert(content(three).map(_._1) === Seq("a", "b", "c", "d", "e"))
    // the embedder marker survives the combined rewrite, also from an
    // unstamped writer, and still refuses another embedder
    new VectorIndex(oneDir, 2).upsert(rows(("f", Seq(1.0, 0.0), 3L)), Set("f"), Set("a"))
    val e = intercept[IllegalArgumentException] {
      new VectorIndex(oneDir, 2, Some("embedder-v2")).upsert(vecs, ids, dels)
    }
    assert(e.getMessage.contains("embedder-v1"))
    assert(content(one).map(_._1) === Seq("c", "d", "f"))
  }

  test("Sync: a vector left by a crashed cycle is replaced by the next edit, whatever its version") {
    val root  = mkCorpus()
    val names = Seq("a.md", "sub/b.md", "sub/nested/c.md")
    names.foreach(f => touch(root.resolve(f), 100L))
    val state = tempDir("graft_cvs").resolve("state").toString
    val index = tempDir("graft_cvi").resolve("index").toString
    val embedder = HashingEmbedder(8)
    val sync  = new Sync(root.toString, state, index, embedder)
    assert(sync.run(spark).indexed === 3)
    // a cycle indexed a.md's content at mtime 300 and crashed before its
    // state write: state still says 100
    val id  = "file:" + root.resolve("a.md").toAbsolutePath.normalize.toString
    val idx = new VectorIndex(index, 8, Some(embedder.id))
    def vector(text: String) = Seq(text).toDF("text")
      .select(embedder.embed(col("text"))).head.getSeq[Double](0)
    idx.upsert(Seq((id, vector("content of the crashed cycle"), Map.empty[String, String], 300L))
      .toDF("id", "embedding", "metadata", "version"), Set(id))
    // the file is then rewritten, with an mtime below the stored version
    Files.writeString(root.resolve("a.md"), "the content that exists now")
    touch(root.resolve("a.md"), 200L)
    val r = sync.run(spark)
    assert((r.changed, r.indexed) === ((1, 1)))
    val row = idx.read(spark).filter($"id" === id).select("embedding", "version").head
    assert((row.getSeq[Double](0), row.getLong(1)) === ((vector("the content that exists now"), 200L)))
    assertMirrors(root, state, index, names, Set.empty)
  }

  test("StateStore.load reads what Spark wrote; save writes what Spark reads") {
    val dir   = tempDir("graft_stc")
    val store = new StateStore(dir.resolve("state").toString)
    def sparkMap(s: StateStore) = s.read(spark)
      .select(col("path"), col("last_edit_time"), coalesce(col("too_long"), lit(false)))
      .as[(String, Long, Boolean)].collect().map { case (p, t, l) => p -> ((t, l)) }.toMap
    def dataFiles(d: String) = new java.io.File(d).listFiles().map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).toSeq
    // a missing state directory is empty either way
    assert(store.load(spark).isEmpty && sparkMap(store).isEmpty)

    val rows = (0 until 40).map(i => (s"file:/c/d$i.md", 1000L + i, i % 3 == 0))
    // as Spark's writer left it: several part files, `_SUCCESS` and `.crc`
    // files, a null flag, and the reference's two columns only
    val three = dir.resolve("three").toString
    rows.map { case (p, t, l) => (p, t, Option.unless(p.endsWith("9.md"))(l)) }
      .toDF("path", "last_edit_time", "too_long").repartition(3).write.parquet(three)
    val two = dir.resolve("two").toString
    rows.map { case (p, t, _) => (p, t) }.toDF("path", "last_edit_time").repartition(3).write.parquet(two)
    for (d <- Seq(three, two)) {
      val names = new java.io.File(d).list().toSeq
      assert(dataFiles(d).size === 3 && names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
      val s = new StateStore(d)
      assert(s.load(spark) === sparkMap(s), d)
    }
    assert(new StateStore(three).load(spark)("file:/c/d9.md") === ((1009L, false)))
    assert(new StateStore(two).load(spark).values.forall(!_._2))

    // save: read back the same through Spark, as one data file
    store.save(spark, rows)
    val expected = rows.map { case (p, t, l) => p -> ((t, l)) }.toMap
    assert(sparkMap(store) === expected && store.load(spark) === expected)
    assert(dataFiles(dir.resolve("state").toString).size === 1)
    store.save(spark, Nil)
    assert(store.load(spark).isEmpty && store.read(spark).count() === 0)
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
    // Spark URL-encodes these names (%20, %25, %5B, %7B) in its file keys
    // but not in `path`: a content read keyed by the wrong form would skip
    // these files and still record their new mtime in state — a silently
    // lost edit
    val root  = tempDir("graft_names")
    val names = Seq("sp ace.md", "pct%41.md", "br[1].md", "s d/x{y}.md", "ü.md")
    val long  = Seq.fill(9000)("w").mkString(" ")
    Files.createDirectories(root.resolve("s d"))
    def put(n: String, text: String, t: Long): Unit = {
      Files.writeString(root.resolve(n), text); touch(root.resolve(n), t)
    }
    names.foreach(n => put(n, s"first words of $n", 1000000L))
    val state = tempDir("graft_ns").resolve("state").toString
    val index = tempDir("graft_ni").resolve("index").toString
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

  /** Runs `body` counting its SQL executions and Spark jobs; `onPlan`
    * sees the query execution of each successful SQL execution. */
  private def counted[T](onPlan: org.apache.spark.sql.execution.QueryExecution => Unit)(body: => T): (T, Int, Int) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val executions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        executions.incrementAndGet()
        onPlan(qe)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val jobListener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val r = body
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 30000)
      (r, executions.get, jobs.get)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  test("Sync cycle: one index rewrite, and only changed files' content is read") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
    import org.apache.spark.sql.execution.SparkPlan
    val root = tempDir("graft_shape")
    (0 until 20).foreach { i =>
      val f = root.resolve(f"d$i%02d.md")
      Files.writeString(f, s"document $i " + Seq.fill(200)(s"w$i").mkString(" "))
      touch(f, 1000000L)
    }
    val state = tempDir("graft_shs").resolve("state").toString
    val index = tempDir("graft_shi").resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 20)
    def parquetFiles(dir: String) = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(index) === 1, "a first write is one file")

    val edited = root.resolve("d03.md")
    Files.writeString(edited, "an edited document")
    touch(edited, 1000100L)
    Files.delete(root.resolve("d07.md"))

    // Counted from the executed plans: Spark file writes, and the
    // binaryFile scans that read `content` with the bytes of the files they
    // selected. Stage inputMetrics cannot tell these bytes apart from the
    // other bytes a stage reads.
    val fileWrites = new java.util.concurrent.atomic.AtomicInteger
    val reads   = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[FileSourceScanExec, java.lang.Boolean])
    def contentScans(plan: SparkPlan): Unit = plan.foreach {
      case a: AdaptiveSparkPlanExec => contentScans(a.executedPlan)
      case q: QueryStageExec        => contentScans(q.plan)
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[BinaryFileFormat] &&
          s.requiredSchema.fieldNames.contains("content") => reads.add(s)
      case _ =>
    }
    def onPlan(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      qe.analyzed.foreach {
        case _: InsertIntoHadoopFsRelationCommand => fileWrites.incrementAndGet()
        case _ =>
      }
      contentScans(qe.executedPlan)
    }
    import scala.jdk.CollectionConverters._
    val (r, cycleRuns, cycleJobs) = counted(onPlan)(sync.run(spark))
    assert(r.changed === 1 && r.indexed === 1 && r.deleted === 1)
    // the index's 20 rows less the deleted one; the edited one replaced
    assert(r.indexRows === 19)
    assert(Seq(r.listS, r.loadS, r.guardS, r.indexS, r.saveS).forall(_ > 0), r)
    // the stored rows are copied on their own thread, during the guard
    assert(r.copyS > 0 && r.copyS < r.guardS + r.indexS, r)
    val bytesRead = reads.asScala.toSeq.map(_.metrics("filesSize").value).sum
    assert(reads.size === 1 && bytesRead === Files.size(edited),
      s"${reads.size} content scans read $bytesRead bytes for a ${Files.size(edited)}-byte delta")
    // the guard is the cycle's one Spark job: the index and state are
    // rewritten on the driver
    assert(fileWrites.get === 0 && cycleRuns <= 1 && cycleJobs === 1,
      s"${fileWrites.get} Spark file writes, $cycleRuns SQL executions and $cycleJobs jobs for a one-file cycle")
    // no Spark work at all: the listing and the state load run on the driver
    val (same, sameRuns, sameJobs) = counted(_ => ())(sync.run(spark))
    assert(same.changed === 0 && sameRuns === 0 && sameJobs === 0,
      s"$sameRuns SQL executions and $sameJobs jobs for an unchanged cycle")
    assert(parquetFiles(state) === 1, "the state write must not split state into more files")
    assert(parquetFiles(index) === 1, "the index write must keep the index's file count")
  }

  test("Sync: a delta past the driver's result limit runs as several guard jobs") {
    val root = tempDir("graft_batch")
    (0 until 30).foreach { i =>
      val f = root.resolve(f"d$i%02d.md")
      Files.writeString(f, s"document $i")
      touch(f, 1000000L)
    }
    val state = tempDir("graft_bs").resolve("state").toString
    val index = tempDir("graft_bi").resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    val key   = "spark.driver.maxResultSize"
    val prior = spark.sparkContext.getConf.getOption(key)
    // 12 files per job: 30 changed files run as 3 jobs
    org.apache.spark.GraftTestConf.set(spark.sparkContext, key, Some((12L * (8 * 8 + 512) * 2).toString))
    val (r, _, jobs) = try counted(_ => ())(sync.run(spark))
      finally org.apache.spark.GraftTestConf.set(spark.sparkContext, key, prior)
    assert(Sync.filesPerJob(spark, 8) > 1000)
    assert(r.indexed === 30 && r.indexRows === 30 && jobs === 3)
    assertMirrors(root, state, index, (0 until 30).map(i => f"d$i%02d.md"), Set.empty)
  }

  test("VectorIndex writes one file laid out as Spark's own writer lays it out") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root  = mkCorpus()
    val index = tempDir("graft_lay").resolve("index").toString
    new Sync(root.toString, tempDir("graft_lays").resolve("state").toString, index, HashingEmbedder(8)).run(spark)
    val copy  = tempDir("graft_layc").resolve("copy").toString
    spark.read.parquet(index).coalesce(1).write.parquet(copy)
    /** The file's row groups, the columns and types of its Spark row
      * metadata, and each column's value encodings. Nullability is left
      * out: Spark's own writes mark `id` or `embedding` required or
      * optional depending on the plan that wrote them, so their level
      * encodings (RLE, BIT_PACKED) vary too. */
    def layout(dir: String) = {
      import org.apache.parquet.column.Encoding.{BIT_PACKED, RLE}
      import org.apache.spark.sql.types.{DataType, StructType}
      val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length === 1, dir)
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(files.head.toURI),
        spark.sparkContext.hadoopConfiguration))
      val f = try in.getFooter finally in.close()
      val row = f.getFileMetaData.getKeyValueMetaData.asScala.get("org.apache.spark.sql.parquet.row.metadata")
        .map(DataType.fromJson(_).asInstanceOf[StructType].map(c => c.name -> c.dataType))
      (f.getBlocks.size, row, f.getBlocks.asScala.flatMap(_.getColumns.asScala
        .map(c => c.getPath.toDotString -> (c.getEncodings.asScala.toSet -- Set(RLE, BIT_PACKED)))))
    }
    assert(layout(index) === layout(copy))
    assert(layout(index)._1 === 1 &&
      layout(index)._2.map(_.map(_._1)) === Some(Seq("id", "embedding", "metadata", "version")))
  }

  test("Janitor keeps a driver-written index retired to .old with no live root") {
    // a crash between StagedSwap's two renames: the live index is retired
    // to `.old` and the new one not yet promoted, so `.old` is the only copy
    val base  = tempDir("graft_jan")
    val index = base.resolve("index")
    val sync  = new Sync(mkCorpus().toString, tempDir("graft_jans").resolve("state").toString,
      index.toString, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 3)
    Files.move(index, base.resolve("index.old"))
    assert(Janitor.cleanupScratch(spark, base.toString).isEmpty)
    assert(Files.exists(base.resolve("index.old/_SUCCESS")))
  }

  /** Every file under `dir`, by relative name, with its bytes. */
  private def fileTree(dir: String): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val tree = Files.walk(root)
    try tree.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
    finally tree.close()
  }

  /** A one-directory corpus synced cold under `base`, then one of its
    * files edited and synced again; returns state and index.
    */
  private def coldThenEdit(base: Path): (String, String) = {
    val root = Files.createDirectories(base.resolve("corpus"))
    (0 until 3).foreach { i =>
      Files.writeString(root.resolve(s"d$i.md"), s"document $i")
      touch(root.resolve(s"d$i.md"), 1000000L)
    }
    val state = base.resolve("state").toString
    val index = base.resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 3)
    Files.writeString(root.resolve("d1.md"), "an edited document")
    touch(root.resolve("d1.md"), 1000100L)
    val r = sync.run(spark)
    assert(r.changed === 1 && r.indexed === 1)
    (state, index)
  }

  test("Sync: an edit cycle starts no child process") {
    val base = tempDir("graft_fork").toRealPath()
    val (_, started) = processesStarted(base.toString)(coldThenEdit(base))
    assert(started.size === 0, started.take(3).mkString("; "))
  }

  test("Sync: driver-written files keep Hadoop's modes and checksums") {
    import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath}
    import scala.jdk.CollectionConverters._
    val hadoop = spark.sparkContext.hadoopConfiguration
    def mode(p: Path) = java.nio.file.attribute.PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    def entries(dir: String): Seq[Path] = {
      val tree = Files.walk(java.nio.file.Paths.get(dir))
      try tree.iterator().asScala.toList finally tree.close()
    }
    def check(prefix: String): Unit = {
      // what Hadoop's stock local file system gives a new file and directory
      val stock = new LocalFileSystem
      stock.initialize(new java.net.URI("file:///"), hadoop)
      try {
        val ref = tempDir(s"${prefix}_ref")
        stock.create(new HPath(ref.resolve("dir/file").toUri)).close()
        val expected = Map(true -> mode(ref.resolve("dir")), false -> mode(ref.resolve("dir/file")))
        val (state, index) = coldThenEdit(tempDir(prefix))
        for (dir <- Seq(state, index); p <- entries(dir))
          assert(mode(p) === expected(Files.isDirectory(p)), p)
        val files = Seq(state, index).flatMap(entries).filter(Files.isRegularFile(_))
        val data  = files.filterNot(_.getFileName.toString.endsWith(".crc"))
        assert(data.map(_.getFileName.toString).toSet.contains("_graft_embedder"))
        assert(files.size === 2 * data.size, files)
        // a read through the stock file system verifies each file's .crc
        data.foreach { f =>
          assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
          val in = stock.open(new HPath(f.toUri))
          try assert(in.readAllBytes().toSeq === Files.readAllBytes(f).toSeq, f) finally in.close()
        }
      } finally stock.close()
    }
    check("graft_mode")
    val umask = "fs.permissions.umask-mode"
    val prior = Option(hadoop.get(umask))
    hadoop.set(umask, "077")
    try check("graft_mode077") finally prior.fold(hadoop.unset(umask))(hadoop.set(umask, _))

    val probe = new HPath(tempDir("graft_mode_fs").toUri)
    assert(DriverParquet.fileSystem(spark, probe).isInstanceOf[DriverParquet.LocalFs])
    assert(hadoop.get("fs.file.impl") === null && hadoop.get("fs.file.impl.disable.cache") === null,
      "the session's conf is left as it was")
    hadoop.set("fs.file.impl", classOf[LocalFileSystem].getName)
    // the session's own choice: the file system its conf gives, cached
    try assert(DriverParquet.fileSystem(spark, probe) eq probe.getFileSystem(hadoop))
    finally hadoop.unset("fs.file.impl")
  }

  test("Sync: a missing rootDir throws and leaves state and index byte-identical") {
    val root  = mkCorpus()
    val state = tempDir("graft_rs").resolve("state").toString
    val index = tempDir("graft_ri").resolve("index").toString
    assert(new Sync(root.toString, state, index, HashingEmbedder(8)).run(spark).indexed === 3)
    val before = (fileTree(state), fileTree(index))
    // an unmounted or misspelled corpus is not an empty one: classified
    // against state, an empty listing would erase every vector
    val missing = new Sync(root.resolve("missing").toString, state, index, HashingEmbedder(8))
    intercept[java.io.FileNotFoundException] { missing.run(spark) }
    intercept[java.io.FileNotFoundException] { missing.run(spark, dryRun = true) }
    assert((fileTree(state), fileTree(index)) === before)
  }

  /** A three-file corpus synced once, then two of its files edited: a
    * cycle over it copies the stored rows while its guard job runs.
    */
  private def editedCorpus(name: String): (Path, String, String) = {
    val root  = mkCorpus()
    val state = tempDir(s"graft_${name}s").resolve("state").toString
    val index = tempDir(s"graft_${name}i").resolve("index").toString
    Seq("a.md", "sub/b.md", "sub/nested/c.md").foreach(f => touch(root.resolve(f), 1000000L))
    assert(new Sync(root.toString, state, index, HashingEmbedder(8)).run(spark).indexed === 3)
    Files.writeString(root.resolve("a.md"), "a poisoned document")
    Seq("a.md", "sub/b.md").foreach(f => touch(root.resolve(f), 1000100L))
    (root, state, index)
  }

  test("Sync: a guard that fails mid-job leaves state and index byte-identical and no work running") {
    val (root, state, index) = editedCorpus("gf")
    val before  = (fileTree(state), fileTree(index))
    val failing = new Embedder {
      def dim = 8
      def id  = HashingEmbedder(8).id
      def embed(text: org.apache.spark.sql.Column) =
        when(text.contains("poisoned"), raise_error(lit("an embedder failure")))
          .otherwise(HashingEmbedder(8).embed(text))
    }
    val e = intercept[Exception](new Sync(root.toString, state, index, failing).run(spark))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("an embedder failure")), e)
    assert((fileTree(state), fileTree(index)) === before)
    assert(leftRunning().isEmpty)
  }

  test("Sync: an unreadable stored index leaves state and index byte-identical and no work running") {
    val (root, state, index) = editedCorpus("uf")
    val part = new java.io.File(index).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    Files.write(part, Files.readAllBytes(part).take((Files.size(part) / 2).toInt))
    val before = (fileTree(state), fileTree(index))
    val e = intercept[Exception](new Sync(root.toString, state, index, HashingEmbedder(8)).run(spark))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(part.getFileName.toString)), e)
    assert((fileTree(state), fileTree(index)) === before)
    assert(leftRunning().isEmpty)
  }

  test("Sync: rootDir is a literal path, not a glob") {
    val base = tempDir("graft_lit")
    // as a glob, `c[1]` names `c1` and not itself
    Seq("c[1]", "c1").foreach { d =>
      Files.createDirectories(base.resolve(d))
      Files.writeString(base.resolve(d).resolve("n.md"), s"a note in $d")
    }
    val state = tempDir("graft_ls").resolve("state").toString
    val index = tempDir("graft_li").resolve("index").toString
    val sync  = new Sync(base.resolve("c[1]").toString, state, index, HashingEmbedder(8))
    val r = sync.run(spark)
    assert((r.scanned, r.changed, r.indexed) === ((1, 1, 1)))
    val id = "file:" + base.resolve("c[1]/n.md").toAbsolutePath.normalize.toString
    assert(new VectorIndex(index, 8).read(spark).select("id").as[String].collect().toSeq === Seq(id))
    assert(new StateStore(state).read(spark).select("path").as[String].collect().toSeq === Seq(id))
    assert(sync.run(spark).changed === 0)
  }

  test("Sync: a two-column state written before the too_long flag") {
    val root  = mkCorpus()
    val names = Seq("a.md", "sub/b.md", "sub/nested/c.md")
    names.foreach(f => touch(root.resolve(f), 1000000L))
    val state = tempDir("graft_os").resolve("state").toString
    val index = tempDir("graft_oi").resolve("index").toString
    val sync  = new Sync(root.toString, state, index, HashingEmbedder(8))
    assert(sync.run(spark).indexed === 3)
    // the reference's (path, last_edit_time) table
    val legacy = spark.read.parquet(state).select("path", "last_edit_time").as[(String, Long)].collect()
    legacy.toSeq.toDF("path", "last_edit_time").write.mode("overwrite").parquet(state)
    assert(spark.read.parquet(state).columns.toSeq === Seq("path", "last_edit_time"))

    val same = sync.run(spark)
    assert((same.changed, same.deleted, same.indexed) === ((0, 0, 0)))
    // an indexed doc pushed over the guard loses its vector
    Files.writeString(root.resolve("a.md"), Seq.fill(9000)("w").mkString(" "))
    touch(root.resolve("a.md"), 1000100L)
    val grown = sync.run(spark)
    assert((grown.changed, grown.skippedTooLong, grown.indexed, grown.deleted) === ((1, 1, 0, 0)))
    assertMirrors(root, state, index, names, Set("a.md"))
    assert(spark.read.parquet(state).columns.toSeq === Seq("path", "last_edit_time", "too_long"))
    assert(sync.run(spark).changed === 0)
  }

  test("Sync lists a wide corpus without a Spark listing job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val root = tempDir("graft_wide")
    (0 until 40).foreach { i =>
      val d = Files.createDirectories(root.resolve(f"d$i%02d"))
      Files.writeString(d.resolve("n.md"), s"note $i")
    }
    val sync = new Sync(root.toString, tempDir("graft_ws").resolve("state").toString,
      tempDir("graft_wi").resolve("index").toString, HashingEmbedder(8))
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    spark.sparkContext.addSparkListener(listener)
    val (cold, rerun) = try (sync.run(spark), sync.run(spark)) finally {
      org.apache.spark.GraftListenerDrain.waitUntilEmpty(spark.sparkContext, 30000)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(cold.indexed === 40 && rerun.changed === 0)
    val listings = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, listings.mkString("; "))
  }

  test("Sync: a run that fails leaves nothing cached") {
    val root  = mkCorpus()
    val state = tempDir("graft_fs").resolve("state").toString
    val index = tempDir("graft_fi").resolve("index").toString
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
