package graft

import graft.operators.SuffixRank
import graft.pipeline.ArtifactStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ArtifactStore contract (r11 verdict task 1): build-once/load-after,
  * idempotent batch appends, and the maintained-contamination-index ≡
  * full-rebuild equivalence that q195 pins against the DuckDB oracle.
  */
class ArtifactStoreSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def freshRoot(name: String): String = {
    val dir = tempDir("graft_artifact_spec")
    s"$dir/$name"
  }

  test("loadOrBuild builds on miss, loads on hit (no rebuild)") {
    val root = freshRoot("a1")
    var builds = 0
    def build = { builds += 1; Seq((1L, 2L), (3L, 4L)).toDF("k", "v") }
    val first = ArtifactStore.loadOrBuild(spark, root)(build)
    assert(first.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (3L, 4L)))
    assert(builds == 1)
    val second = ArtifactStore.loadOrBuild(spark, root)(build)
    assert(second.count() == 2)
    assert(builds == 1, "a live artifact must not be rebuilt")
  }

  test("rotating artifact-vs-rebuild audit (r13 key: neardup train bands)") {
    // The version-tag discipline is a CONVENTION (rootFor's scaladoc): a
    // builder-semantics change must bump the artifact name's _vN suffix.
    // This leg audits one deployed key per round (rotate it as new
    // artifacts land): resolve the PRODUCTION root the queries use, load
    // (or build) through the store, and assert row-set equality against a
    // fresh DIRECT computation that bypasses the store. A forgotten bump
    // on this key fails here before it burns a debugging session.
    val d = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
    val fresh = graft.operators.Dedup.trainNearDupIndex(
      d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16)._1
    val live = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(sfDir, "neardup_train_bands_s3_h32_b16_v1"))(fresh)
    assert(live.count() === fresh.count())
    assert(live.except(fresh).isEmpty && fresh.except(live).isEmpty,
      "deployed artifact must equal the current builder's output — bump the _vN suffix on builder changes")
  }

  test("loadOrBuild ignores a dead staging dir from a killed build") {
    val root = freshRoot("a2")
    // simulate a crash mid-build: staging exists, live does not
    new java.io.File(root + ".tmp").mkdirs()
    val df = ArtifactStore.loadOrBuild(spark, root)(Seq(1L).toDF("k"))
    assert(df.count() == 1)
  }

  test("appendBatchIfAbsent is idempotent; readBatches unions live batches") {
    val root = freshRoot("a3")
    var builds = 0
    ArtifactStore.appendBatchIfAbsent(spark, root, 0) { builds += 1; Seq(1L).toDF("k") }
    ArtifactStore.appendBatchIfAbsent(spark, root, 1) { builds += 1; Seq(2L, 3L).toDF("k") }
    ArtifactStore.appendBatchIfAbsent(spark, root, 0) { builds += 1; Seq(9L).toDF("k") }
    assert(builds == 2, "re-appending a live batch must be a no-op")
    val all = ArtifactStore.readBatches(spark, root).orderBy("k").as[Long].collect()
    assert(all.toSeq == Seq(1L, 2L, 3L))
  }

  test("readBatches fails loudly on an empty index") {
    val root = freshRoot("a4")
    assertThrows[IllegalArgumentException](ArtifactStore.readBatches(spark, root))
    new java.io.File(root).mkdirs()
    assertThrows[IllegalArgumentException](ArtifactStore.readBatches(spark, root))
  }

  test("gc sweeps stale fingerprint generations of the SAME input dir on build") {
    // mimic rootFor's layout: <base>/<dirSan>-<fp>/<name>
    val base = tempDir("graft_artifact_gc").toString
    val oldGen = s"$base/testdata_sf001-aaaa11/idx_v1"
    val curGen = s"$base/testdata_sf001-bbbb22/idx_v1"
    val otherDir = s"$base/testdata_sf01-cccc33/idx_v1"
    ArtifactStore.loadOrBuild(spark, oldGen)(Seq(1L).toDF("k"))
    ArtifactStore.loadOrBuild(spark, otherDir)(Seq(2L).toDF("k"))
    // a build under the NEW fingerprint of the same input dir sweeps the old
    ArtifactStore.loadOrBuild(spark, curGen)(Seq(3L).toDF("k"))
    assert(!new java.io.File(s"$base/testdata_sf001-aaaa11").exists(),
      "stale generation of the same input dir must be swept")
    assert(new java.io.File(otherDir).exists(),
      "a different input dir's generation must survive")
    assert(new java.io.File(curGen).exists())
    // a pure cache hit must not sweep anything (no listing churn on loads)
    ArtifactStore.loadOrBuild(spark, curGen)(Seq(4L).toDF("k"))
    assert(new java.io.File(otherDir).exists())
  }

  test("cross-process swap race: final state is a complete generation") {
    // Two SEPARATE JVMs hammer staged promotions at one live path — the
    // in-process lock cannot serialize them, so this pins exactly what the
    // softened StagedSwap contract promises: whatever generation survives
    // is complete (one tag across all part files, never interleaved), and
    // both processes make progress. A missing live dir afterwards is an
    // allowed (documented) outcome; integrity is conditional on presence.
    val dir = tempDir("graft_swap_race").toString
    val live = s"$dir/live"
    val javaBin = System.getProperty("java.home") + "/bin/java"
    def codeSource(c: Class[_]): String =
      new java.io.File(c.getProtectionDomain.getCodeSource.getLocation.toURI).getPath
    val cp = Seq(
      codeSource(classOf[SwapRaceChild.type]),          // test classes
      codeSource(graft.pipeline.StagedSwap.getClass),   // main classes
      codeSource(classOf[scala.Option[_]]),             // scala-library
      "/opt/spark/jars/*"                               // hadoop client
    ).mkString(":")
    val reports = Seq(s"$dir/rep_a", s"$dir/rep_b")
    val procs = Seq("a", "b").zip(reports).map { case (id, rep) =>
      new ProcessBuilder(javaBin, "-cp", cp, "graft.SwapRaceChild",
        live, id, "6", rep).redirectErrorStream(true).start()
    }
    procs.foreach { p =>
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS), "child hung")
    }
    val oks = reports.map { r =>
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(r)), "UTF-8")
      s.split('/').head.toInt
    }
    assert(oks.sum >= 2, s"both processes combined must promote (got $oks)")
    val liveDir = new java.io.File(live)
    if (liveDir.exists()) {
      val files = liveDir.listFiles().filter(_.getName.startsWith("part-"))
      assert(files.length == 6, s"complete generation expected, got ${files.length} parts")
      val tags = files.map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toSet
      assert(tags.size == 1, s"interleaved generations: $tags")
    }
    // the path stays usable: a fresh in-process promotion must succeed
    val fs2 = org.apache.hadoop.fs.FileSystem.getLocal(
      new org.apache.hadoop.conf.Configuration()).getRawFileSystem
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/final.tmp")
    fs2.mkdirs(tmp)
    fs2.create(new org.apache.hadoop.fs.Path(tmp, "part-0.txt"), true).close()
    graft.pipeline.StagedSwap.swap(fs2, tmp,
      new org.apache.hadoop.fs.Path(live), new org.apache.hadoop.fs.Path(live + ".old"))
    assert(new java.io.File(s"$live/part-0.txt").exists())
  }

  test("suffix finishes over a parquet round-tripped SA/LCP artifact ≡ direct build") {
    val corpus = Seq(
      (0L, "abracadabra abracadabra"),
      (1L, "the cat sat on the mat the cat"),
      (2L, "abracadabra mat")).toDF("doc_id", "t")
    val (sa, lcp) = SuffixRank.suffixArrays(spark, corpus, "doc_id", "t")
    val saRoot = freshRoot("sa")
    val lcpRoot = freshRoot("lcp")
    val saA = ArtifactStore.loadOrBuild(spark, saRoot)(sa)
    val lcpA = ArtifactStore.loadOrBuild(spark, lcpRoot)(lcp)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(SuffixRank.longestDupPrefixFromLcp(lcpA, minLen = 3))
      === rows(SuffixRank.longestDupPrefix(spark, corpus, "doc_id", "t", minLen = 3)))
    assert(rows(SuffixRank.maximalRepeatsFromArrays(corpus, "doc_id", "t", saA, lcpA, minLen = 3))
      === rows(SuffixRank.maximalRepeats(spark, corpus, "doc_id", "t", minLen = 3)))
    assert(SuffixRank.longestDupPrefixFromLcp(lcpA, minLen = 3).count() > 0)
  }

  test("maintained contamination hits ≡ full rebuild (per-batch decomposition)") {
    // train corpus with a planted span; test arrives as two batches
    val train = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "t")
    val testA = Seq((10L, "xx the quick brown fox xx")).toDF("doc_id", "t")
    val testB = Seq((11L, "yy five dozen liquor jugs")).toDF("doc_id", "t")
    val root = freshRoot("a5")
    ArtifactStore.appendBatchIfAbsent(spark, root, 0)(
      SuffixRank.crossCorpusOverlap(spark, train, testA, "doc_id", "t", minLen = 8))
    ArtifactStore.appendBatchIfAbsent(spark, root, 1)(
      SuffixRank.crossCorpusOverlap(spark, train, testB, "doc_id", "t", minLen = 8))
    val maintained = ArtifactStore.readBatches(spark, root)
    val rebuilt = SuffixRank.crossCorpusOverlap(spark, train,
      testA.unionByName(testB), "doc_id", "t", minLen = 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "pos").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(maintained) == rows(rebuilt))
    assert(rows(maintained).nonEmpty, "planted spans must surface")
    // the decoupled finishes agree with the build-inline forms
    val maskViaHits = SuffixRank.maskSpansFromHits(rebuilt).collect().toSeq
    val maskInline = SuffixRank.contaminationMask(spark, train,
      testA.unionByName(testB), "doc_id", "t", minLen = 8).collect().toSeq
    assert(maskViaHits == maskInline)
  }
}
