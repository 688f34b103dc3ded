package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.pipeline.IndexMigration]]: quantizer retrain → one-pass
  * re-encode → staged swap, with the tombstone log carried across versions
  * (erase wins through a migration), the version marker bumping
  * atomically with the content, and [[graft.pipeline.IndexErasure
  * .clearTombstones]] as the explicit re-admission act.
  */
class IndexMigrationSpec extends AnyFunSuite with SparkTestSession {
  import graft.operators.AnnIndex
  import graft.pipeline.{IndexErasure, IndexMigration}

  private def freshRoot(): String =
    tempDir("graft_migration").resolve("idx").toString

  /** Deterministic 8-dim integer-valued corpus: 4 well-separated clusters
    * (vec_id % 4) at centers scaled by 1000, plus small per-id jitter.
    */
  private def corpusDf(n: Int) = {
    import spark.implicits._
    (0L until n.toLong).map { i =>
      val c = (i % 4).toDouble
      val v = (0 until 8).map(d => c * 1000.0 + ((i * 31 + d * 7) % 11).toDouble - 5.0)
      (i, v)
    }.toDF("id", "vec")
  }

  private val (nlist, m, ksub, dim) = (4, 2, 4, 8)

  private def buildIndex(root: String, corpus: org.apache.spark.sql.DataFrame)
  : Array[Seq[Double]] = {
    val cents = AnnIndex.kmeansCentroids(corpus, "vec", "id", nlist, 1)
    val cbs = AnnIndex.pqTrainCodebooks(corpus, "id", "vec", m, ksub, dim, 1)
    IndexErasure.ensurePartitioned(spark, root, "cell") {
      AnnIndex.pqEncodedCorpus(corpus, "id", "vec", m, ksub, dim, nlist,
        Some(cbs), Some(cents))
        .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    cents
  }

  private def readIndex(root: String) =
    IndexErasure.readPartitioned(spark, root, "cell")
      .select(col("id"), col("cell"),
        col("__codes").cast("array<long>").as("codes"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2)))
      .sortBy(_._1).toSeq

  test("migrate: retrained index equals a from-scratch build under the new quantizer") {
    val root = freshRoot()
    buildIndex(root, corpusDf(40))
    assert(IndexMigration.version(spark, root) === 1L)
    // drift: cluster 3 vanishes, the corpus shrinks — the standing
    // quantizer (trained on all 4 clusters) is stale
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    val mig = IndexMigration.migrate(spark, root, current, "id", "vec",
      nlist, m, ksub, dim)
    assert(mig.versionBefore === 1L && mig.versionAfter === 2L)
    assert(IndexMigration.version(spark, root) === 2L)
    assert(mig.nCorpus === 30L && mig.nErasedExcluded === 0L)
    // two-sided check: a from-scratch build on a VIRGIN root from the
    // same current corpus must be content-identical
    val fresh = freshRoot()
    buildIndex(fresh, current)
    assert(readIndex(root) === readIndex(fresh),
      "migrated index must equal the from-scratch build under the new quantizer")
  }

  test("migrate: a failed codebook training lets the Lloyd chain finish, then throws with no work left") {
    val root = freshRoot()
    buildIndex(root, corpusDf(40))
    val before = readIndex(root)
    spark.catalog.clearCache() // suites share the session
    // m = 3 does not divide dim 8: the overlapped codebook training throws
    val e = intercept[IllegalArgumentException] {
      IndexMigration.migrate(spark, root, corpusDf(40), "id", "vec", nlist, 3, ksub, dim)
    }
    assert(e.getMessage.contains("must divide"))
    assert(leftRunning().isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed migration must unpersist what it cached")
    assert(IndexMigration.version(spark, root) === 1L && readIndex(root) === before)
  }

  test("migrate: a failed Lloyd chain cancels the codebook training's jobs and joins it") {
    val root = freshRoot()
    buildIndex(root, corpusDf(40))
    val before = readIndex(root)
    spark.catalog.clearCache()
    // corrupt vectors, which the Lloyd chain's first job fails to read as
    // doubles, while the training beside it runs a job that would take minutes
    val corpus = corpusDf(40).select(col("id"),
      transform(col("vec"), v => concat(lit("x"), v.cast("string"))).as("vec"))
    val t0 = System.nanoTime()
    val e = intercept[Exception] {
      IndexMigration.migrateImpl(spark, root, corpus, "id", "vec", nlist, 1,
        trainIndependent = Some { train =>
          // one task: the chain's job needs the other slots to fail in
          train.rdd.coalesce(1).map { _ => Thread.sleep(120000); 0 }.count()
          Array.empty[Array[Seq[Double]]]
        })((_, _, _, _) => throw new AssertionError("the encode must not run"))
    }
    assert(String.valueOf(e.getMessage).contains("CAST_INVALID_INPUT"), e)
    assert((System.nanoTime() - t0) / 1e9 < 60, "the training's job must be cancelled, not waited out")
    assert(leftRunning().isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "a failed migration must unpersist what it cached")
    assert(IndexMigration.version(spark, root) === 1L && readIndex(root) === before)
  }

  test("migrate: tombstone log carried across versions — erase wins through migration") {
    import spark.implicits._
    val root = freshRoot()
    val corpus = corpusDf(40)
    val cents = buildIndex(root, corpus)
    // erase ids 5 and 13 through the deployed index (logs tombstones)
    val tomb = corpus.filter(col("id").isin(5L, 13L))
      .select(col("id"), col("vec"))
    val touched = AnnIndex.ivfAssignTrained(tomb, "id", "vec", cents.toSeq)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    IndexErasure.repairErased(spark, root, "cell", touched, "id", tomb)
    // the migration's corpus snapshot STILL CONTAINS the erased ids (an
    // at-least-once world: the raw corpus table was exported pre-deletion)
    val mig = IndexMigration.migrate(spark, root, corpus, "id", "vec",
      nlist, m, ksub, dim)
    assert(mig.nErasedExcluded === 2L, "both erased ids excluded from the rebuild")
    val ids = readIndex(root).map(_._1).toSet
    assert(!ids.contains(5L) && !ids.contains(13L),
      "migration must not resurrect erased ids")
    assert(ids.size === 38)
    // the log survived the swap: a post-migration append is still bound
    IndexErasure.appendRows(spark, root, "cell", "id",
      AnnIndex.pqEncodedCorpus(tomb, "id", "vec", m, ksub, dim, nlist,
        Some(mig.codebooks), Some(mig.cents))
        .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes")))
    assert(!IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().contains(5L),
      "erase wins over appends after the migration too")
    // and the migrated assignment is the NEW quantizer's: every id sits in
    // the cell the new centroids assign (the repairErased completeness
    // precondition for future deletions)
    val want = AnnIndex.ivfAssignTrained(
      corpus.filter(!col("id").isin(5L, 13L)), "id", "vec", mig.cents.toSeq)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    readIndex(root).foreach { case (id, cell, _) =>
      assert(want(id) === cell, s"id $id must sit in its new-quantizer cell")
    }
  }

  test("migrateResidual / migrateOpq: chain-specific retrain equals the from-scratch build") {
    // residual chain: migrated root vs virgin root built from the same
    // current corpus with the same residual train+encode
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    def buildResidual(root: String): Unit = {
      val cents = AnnIndex.kmeansCentroids(current, "vec", "id", nlist, 1)
      val cbs = AnnIndex.pqTrainCodebooks(
        AnnIndex.pqResidualCorpus(current, "id", "vec", nlist, Some(cents)),
        "id", "__resid", m, ksub, dim, 1)
      IndexErasure.ensurePartitioned(spark, root, "cell") {
        AnnIndex.pqResidualEncodedCorpus(current, "id", "vec", m, ksub, dim,
          nlist, Some(cbs), Some(cents))
          .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
      }
    }
    val rootR = freshRoot()
    buildIndex(rootR, corpusDf(40)) // v1 = raw chain; the MIGRATION re-chains it
    val migR = IndexMigration.migrateResidual(spark, rootR, current, "id", "vec",
      nlist, m, ksub, dim)
    assert(migR.versionAfter === 2L)
    val freshR = freshRoot(); buildResidual(freshR)
    assert(readIndex(rootR) === readIndex(freshR),
      "residual migration must equal the from-scratch residual build")
    // OPQ chain: rotation is a supplied trained parameter — identical on
    // both sides, so migrated ≡ fresh rotated-residual build
    // any orthonormal matrix works — the leg pins migrated ≡ fresh GIVEN
    // the same supplied rotation (rotation QUALITY is q282's concern);
    // a cyclic permutation is deterministic and trivially orthonormal
    val rot = Array.tabulate(dim, dim)((i, j) => if (i == (j + 1) % dim) 1.0 else 0.0)
    def buildOpq(root: String): Unit = {
      val cents = AnnIndex.kmeansCentroids(current, "vec", "id", nlist, 1)
      val resid = AnnIndex.pqResidualCorpus(current, "id", "vec", nlist, Some(cents))
      val cbs = AnnIndex.pqTrainCodebooks(resid.select(col("id"),
        graft.functions.VectorFunctions.matVec(col("__resid"), rot).as("__resid")),
        "id", "__resid", m, ksub, dim, 1)
      IndexErasure.ensurePartitioned(spark, root, "cell") {
        AnnIndex.pqResidualEncodedCorpus(current, "id", "vec", m, ksub, dim,
          nlist, Some(cbs), Some(cents), Some(rot))
          .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
      }
    }
    val rootO = freshRoot()
    buildIndex(rootO, corpusDf(40))
    IndexMigration.migrateOpq(spark, rootO, current, "id", "vec",
      nlist, m, ksub, dim, rotation = rot)
    val freshO = freshRoot(); buildOpq(freshO)
    assert(readIndex(rootO) === readIndex(freshO),
      "OPQ migration must equal the from-scratch rotated-residual build")
  }

  test("migrateSq8: per-dim min/max refit on survivors equals the from-scratch SQ8 build") {
    val root = freshRoot()
    val corpus = corpusDf(40)
    // v1 deployment: SQ8 byte-code index under the full-corpus params
    val cents = AnnIndex.kmeansCentroids(corpus, "vec", "id", nlist, 1)
    val params = AnnIndex.sq8Train(corpus, "vec").collect()
      .sortBy(_.getLong(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    IndexErasure.ensurePartitioned(spark, root, "cell") {
      AnnIndex.sq8EncodedCorpus(corpus, "id", "vec", nlist, params, Some(cents))
        .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    // drift shrinks the value range (cluster 3 — the max-value cluster —
    // vanishes): the stale min/max waste half the byte range
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    val mig = IndexMigration.migrateSq8(spark, root, current, "id", "vec", nlist)
    assert(mig.versionAfter === 2L)
    // the refit params ride Migrated.codebooks as [[mins], [maxes]]
    assert(mig.codebooks.length === 2 && mig.codebooks(0)(0).length === dim)
    // two-sided: a from-scratch SQ8 build on a virgin root from the same
    // current corpus must be content-identical
    val fresh = freshRoot()
    val fCents = AnnIndex.kmeansCentroids(current, "vec", "id", nlist, 1)
    val fParams = AnnIndex.sq8Train(current, "vec").collect()
      .sortBy(_.getLong(0)).map(r => (r.getDouble(1), r.getDouble(2)))
    IndexErasure.ensurePartitioned(spark, fresh, "cell") {
      AnnIndex.sq8EncodedCorpus(current, "id", "vec", nlist, fParams, Some(fCents))
        .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    assert(readIndex(root) === readIndex(fresh),
      "migrated SQ8 index must equal the from-scratch build under the refit params")
  }

  test("sampled training: fixed-size hash sample — migrated equals from-scratch sample-trained build") {
    val root = freshRoot()
    buildIndex(root, corpusDf(60))
    val current = corpusDf(60).filter(col("id") % 4 =!= 3)
    val mig = IndexMigration.migrate(spark, root, current, "id", "vec",
      nlist, m, ksub, dim, trainSampleN = Some(16))
    assert(mig.nCorpus === 45L)
    // the oracle-side contract: the sample is a pure function of
    // (survivor ids, n) — train on THE SAME sample from scratch, encode
    // the full current corpus, compare
    val sample = IndexMigration.trainSample(current, "id", 16)
    assert(sample.count() === 16L)
    val fCents = AnnIndex.kmeansCentroids(sample, "vec", "id", nlist, 1)
    val fCbs = AnnIndex.pqTrainCodebooks(sample, "id", "vec", m, ksub, dim, 1)
    val fresh = freshRoot()
    IndexErasure.ensurePartitioned(spark, fresh, "cell") {
      AnnIndex.pqEncodedCorpus(current, "id", "vec", m, ksub, dim, nlist,
        Some(fCbs), Some(fCents))
        .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    assert(readIndex(root) === readIndex(fresh),
      "sample-trained migration must equal the from-scratch sample-trained build")
    // and the ENCODE covers the full corpus, not just the sample
    assert(readIndex(root).size === 45)
  }

  test("rollback: migrate(keepOld) then rollback restores the original generation") {
    val root = freshRoot()
    val corpus = corpusDf(40)
    buildIndex(root, corpus)
    val before = readIndex(root)
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    IndexMigration.migrate(spark, root, current, "id", "vec",
      nlist, m, ksub, dim, keepOld = true)
    assert(IndexMigration.version(spark, root) === 2L)
    assert(readIndex(root) !== before, "migration must actually change content")
    val restored = IndexMigration.rollback(spark, root, "cell", "id")
    assert(restored === 1L && IndexMigration.version(spark, root) === 1L)
    assert(readIndex(root) === before,
      "rollback must restore the retained generation bit-for-bit")
    // the demoted v2 is retained at its versioned sibling — roll-forward
    // stays possible
    import org.apache.hadoop.fs.Path
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(IndexMigration.retiredName(root, 2L), "_SUCCESS")))
    // rolling back again fails fast on the version guard
    val e = intercept[IllegalArgumentException] {
      IndexMigration.rollback(spark, root, "cell", "id")
    }
    assert(e.getMessage.contains("nothing to roll back"))
  }

  test("rollback: an erasure executed against v2 survives the rollback (log replay)") {
    val root = freshRoot()
    val corpus = corpusDf(40)
    buildIndex(root, corpus)
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    val mig = IndexMigration.migrate(spark, root, current, "id", "vec",
      nlist, m, ksub, dim, keepOld = true)
    // erase ids 8 and 16 against the LIVE v2 (assignment under mig.cents);
    // the retired v1 generation still physically holds their rows
    val tomb = corpus.filter(col("id").isin(8L, 16L)).select(col("id"), col("vec"))
    val touched = AnnIndex.ivfAssignTrained(tomb, "id", "vec", mig.cents.toSeq)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    IndexErasure.repairErased(spark, root, "cell", touched, "id", tomb)
    IndexMigration.rollback(spark, root, "cell", "id")
    val ids = readIndex(root).map(_._1).toSet
    assert(!ids.contains(8L) && !ids.contains(16L),
      "rollback must replay the tombstone log against the restored generation")
    // and the content equals the v1 build minus the erased ids
    val fresh = freshRoot()
    buildIndex(fresh, corpus)
    assert(readIndex(root) === readIndex(fresh).filterNot(r => Set(8L, 16L)(r._1)))
    // erase-wins still binds future appends after the rollback
    val enc = AnnIndex.pqEncodedCorpus(corpus.filter(col("id") === 8L),
      "id", "vec", m, ksub, dim, nlist,
      Some(AnnIndex.pqTrainCodebooks(corpus, "id", "vec", m, ksub, dim, 1)),
      Some(AnnIndex.kmeansCentroids(corpus, "vec", "id", nlist, 1)))
      .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    IndexErasure.appendRows(spark, root, "cell", "id", enc)
    assert(!readIndex(root).map(_._1).contains(8L),
      "a replayed append after rollback must not resurrect an erased id")
  }

  test("rollForward: re-promotes the demoted generation, with erasure replay") {
    val root = freshRoot()
    val corpus = corpusDf(40)
    buildIndex(root, corpus)
    val current = corpusDf(40).filter(col("id") % 4 =!= 3)
    IndexMigration.migrate(spark, root, current, "id", "vec",
      nlist, m, ksub, dim, keepOld = true)
    val v2Content = readIndex(root)
    IndexMigration.rollback(spark, root, "cell", "id")
    // with nothing retained AHEAD, rollForward from the newest version
    // fails fast
    IndexMigration.rollForward(spark, root, "cell", "id")
    assert(IndexMigration.version(spark, root) === 2L)
    assert(readIndex(root) === v2Content,
      "rollback + rollForward must round-trip the newer generation")
    val e = intercept[IllegalArgumentException] {
      IndexMigration.rollForward(spark, root, "cell", "id")
    }
    assert(e.getMessage.contains("no retained generation"))
    // erasure executed while the OLDER generation was live binds the
    // restored newer one: rollback, erase id 20 against v1, roll forward
    IndexMigration.rollback(spark, root, "cell", "id")
    val v1Cents = AnnIndex.kmeansCentroids(corpus, "vec", "id", nlist, 1)
    val tomb = corpus.filter(col("id") === 20L).select(col("id"), col("vec"))
    val touched = AnnIndex.ivfAssignTrained(tomb, "id", "vec", v1Cents.toSeq)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    IndexErasure.repairErased(spark, root, "cell", touched, "id", tomb)
    IndexMigration.rollForward(spark, root, "cell", "id")
    assert(!readIndex(root).map(_._1).contains(20L),
      "rollForward must replay erasures executed against the older generation")
    assert(readIndex(root) === v2Content.filterNot(_._1 == 20L))
  }

  test("clearTombstones: re-admission requires the explicit clear; clear + replay converges") {
    import spark.implicits._
    val root = freshRoot()
    val corpus = corpusDf(24)
    val cents = buildIndex(root, corpus)
    val tomb = corpus.filter(col("id") === 7L).select(col("id"), col("vec"))
    val touched = AnnIndex.ivfAssignTrained(tomb, "id", "vec", cents.toSeq)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    IndexErasure.repairErased(spark, root, "cell", touched, "id", tomb)
    val cbs = AnnIndex.pqTrainCodebooks(corpus, "id", "vec", m, ksub, dim, 1)
    def encoded7() = AnnIndex.pqEncodedCorpus(tomb, "id", "vec", m, ksub, dim,
      nlist, Some(cbs), Some(cents))
      .select(col("id"), col("__cell").cast("long").as("cell"), col("__codes"))
    def liveIds() = IndexErasure.readPartitioned(spark, root, "cell")
      .select("id").as[Long].collect().toSet
    // WITHOUT the clear: the append no-ops — re-admission is never an
    // accident of replay
    IndexErasure.appendRows(spark, root, "cell", "id", encoded7())
    assert(!liveIds().contains(7L), "append before the clear must be blocked")
    // clearing an id not in the log is a no-op and reports 0
    assert(IndexErasure.clearTombstones(spark, root,
      Seq(999L).toDF("id"), "id") === 0L)
    // the explicit administrative act
    assert(IndexErasure.clearTombstones(spark, root,
      Seq(7L).toDF("id"), "id") === 1L)
    // now the same (replayed) append lands
    IndexErasure.appendRows(spark, root, "cell", "id", encoded7())
    assert(liveIds().contains(7L), "after the clear the replayed append lands")
    // and replaying it again still converges (append idempotence)
    IndexErasure.appendRows(spark, root, "cell", "id", encoded7())
    assert(IndexErasure.readPartitioned(spark, root, "cell")
      .filter(col("id") === 7L).count() === 1L, "clear + replay converges")
  }

  test("clearTombstones: only the named ids clear — others keep their coverage") {
    import spark.implicits._
    val root = freshRoot()
    val corpus = corpusDf(24)
    val cents = buildIndex(root, corpus)
    val tomb = corpus.filter(col("id").isin(3L, 7L, 11L)).select(col("id"), col("vec"))
    val touched = AnnIndex.ivfAssignTrained(tomb, "id", "vec", cents.toSeq)
      .select("cell").distinct().collect().map(_.getLong(0)).toSeq
    IndexErasure.repairErased(spark, root, "cell", touched, "id", tomb)
    assert(IndexErasure.clearTombstones(spark, root, Seq(7L).toDF("id"), "id") === 1L)
    val remaining = IndexErasure.erasedIds(spark, root).get
      .collect().map(_.getLong(0)).toSet
    assert(remaining === Set(3L, 11L), "non-cleared ids keep their log entries")
  }
}
