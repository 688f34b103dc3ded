package graft.pipeline

import graft.operators.AnnIndex
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** QUANTIZER RETRAIN & INDEX-VERSION MIGRATION (r18 verdict task 1) — the
  * production lifecycle step the erasure family deliberately pins shut:
  * [[IndexErasure]]'s Faiss `remove_ids` contract holds the trained
  * parameters fixed (correct for erasure — rows go, aggregates stand), so
  * when the embedding distribution DRIFTS (the q206/q207 cell-occupancy
  * PSI gate fires) nothing repairs the quantizer and the deployment keeps
  * serving from degraded cells forever. The reference has the same hole
  * one level up: its index is created once and never re-dimensioned
  * (`vectrekker/main.py:162-167`).
  *
  * [[migrate]] is that repair: retrain the coarse centroids and PQ
  * codebooks on the CURRENT corpus, re-encode it in ONE distributed pass
  * under the new quantizer, build the new cell-partitioned index in a
  * staging sibling, and atomically promote it over the live root
  * ([[StagedSwap]] — readers see old-complete or new-complete, never a
  * mix). The version marker (`_graft_index_version`, underscore-prefixed
  * so parquet discovery skips it) travels INSIDE the index directory, so
  * promotion and version bump are one rename.
  *
  * ERASE WINS ACROSS VERSIONS: the persisted tombstone log
  * (`<root>.tombstones`) is a SIBLING of the root, so the swap carries it
  * untouched — and migrate anti-joins the caller's corpus against it
  * before training AND encoding, so a migration fed a corpus snapshot
  * that still contains erased ids cannot resurrect them (the same
  * contract [[IndexErasure.appendRows]] gives appends). Re-admission
  * stays an explicit administrative act ([[IndexErasure.clearTombstones]]).
  *
  * After a migration the OLD quantizer's parameters no longer satisfy
  * [[IndexErasure.repairErased]]'s completeness precondition (touched
  * cells must be named under the index's standing assignment) — callers
  * must repair with [[Migrated.cents]]. The version marker is the
  * mechanical tripwire: [[version]] lets a deployment detect that its
  * cached parameters are stale before it mutates.
  *
  * Scale shape: training is the [[AnnIndex.kmeansIterate]] /
  * [[AnnIndex.pqTrainCodebooks]] machinery (map-side argmin kernels,
  * parameter-sized collects of k·dim / m·ksub·dsub values); the re-encode
  * is one map pass over the corpus (PqEncode/CentroidArgmin codegen
  * kernels, no shuffle wider than the partitioned write); the swap is two
  * renames. Migration wall is proportional to one corpus pass — measured
  * in docs/PERF_r19.md.
  */
object IndexMigration {

  /** The migration record: versions, row mass, and the NEW quantizer
    * parameters every subsequent repair/append/probe must use. For the
    * SQ8 chain ([[migrateSq8]]) `codebooks` carries the refit per-dim
    * params as two single-entry groups: `codebooks(0)(0)` = mins,
    * `codebooks(1)(0)` = maxes.
    */
  final case class Migrated(
      versionBefore: Long, versionAfter: Long,
      nCorpus: Long, nErasedExcluded: Long, nCells: Long,
      cents: Array[Seq[Double]], codebooks: Array[Array[Seq[Double]]])

  private def fs(spark: SparkSession): FileSystem =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def markerIn(dir: Path) = new Path(dir, "_graft_index_version")

  /** The index's quantizer version: 1 for a never-migrated index (the
    * [[IndexErasure.ensurePartitioned]] build writes no marker), else the
    * marker's value.
    */
  def version(spark: SparkSession, root: String): Long = {
    val f = fs(spark)
    val m = markerIn(new Path(root))
    if (!f.exists(m)) 1L
    else {
      val in = f.open(m)
      try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** Retrain → re-encode → staged swap. `corpus` is the CURRENT raw
    * corpus (`idCol`, `vecCol`); ids in the root's tombstone log are
    * excluded from training and encoding. `iters` Lloyd steps refine both
    * the coarse centroids (lowest-id init — [[AnnIndex.kmeansCentroids]],
    * deterministic and oracle-mirrorable) and the PQ codebooks.
    *
    * `trainSampleN` (r19 verdict task 3 — the 100 TB shape): when set,
    * centroids AND codebooks train on a deterministic hash-priority
    * sample of the survivors ([[trainSample]]) while the ENCODE still
    * covers the full corpus — training cost stays flat as the corpus
    * grows; only the one-pass re-encode scales with it. Default None =
    * train on everything (the fixture-exact historical behavior).
    */
  def migrate(spark: SparkSession, root: String, corpus: DataFrame,
              idCol: String, vecCol: String,
              nlist: Int, m: Int, ksub: Int, dim: Int,
              iters: Int = 1, trainSampleN: Option[Int] = None,
              keepOld: Boolean = false): Migrated =
    migrateImpl(spark, root, corpus, idCol, vecCol, nlist, iters, trainSampleN,
      keepOld,
      // raw-PQ codebooks quantize the vector itself, not v − centroid, so
      // their training never reads the new coarse centroids — it overlaps
      // the coarse Lloyd chain instead of following it
      trainIndependent = Some(train =>
        AnnIndex.pqTrainCodebooks(train, idCol, vecCol, m, ksub, dim, iters))) {
      (_, survivors, cents, pre) =>
        val cbs = pre.get
        (cbs, AnnIndex.pqEncodedCorpus(survivors, idCol, vecCol,
          m, ksub, dim, nlist, Some(cbs), Some(cents)))
    }

  /** [[migrate]] for the RESIDUAL-PQ chain (codes quantize v − centroid
    * under the new coarse cells): retrains the residual codebooks from
    * the new residuals and re-encodes through
    * [[AnnIndex.pqResidualEncodedCorpus]]. Same versioning, tombstone
    * carry, and swap machinery — only the train+encode pair differs.
    */
  def migrateResidual(spark: SparkSession, root: String, corpus: DataFrame,
                      idCol: String, vecCol: String,
                      nlist: Int, m: Int, ksub: Int, dim: Int,
                      iters: Int = 1, trainSampleN: Option[Int] = None,
                      keepOld: Boolean = false): Migrated =
    migrateImpl(spark, root, corpus, idCol, vecCol, nlist, iters, trainSampleN,
      keepOld) {
      // residual codebooks train on v − centroid — they NEED the new coarse
      // centroids, so this chain stays sequential (no trainIndependent)
      (train, survivors, cents, _) =>
        val resid = AnnIndex.pqResidualCorpus(train, idCol, vecCol,
          nlist, Some(cents))
        val cbs = AnnIndex.pqTrainCodebooks(resid, idCol, "__resid",
          m, ksub, dim, iters)
        (cbs, AnnIndex.pqResidualEncodedCorpus(survivors, idCol, vecCol,
          m, ksub, dim, nlist, Some(cbs), Some(cents)))
    }

  /** [[migrate]] for the OPQ chain (residual-PQ with a learned rotation):
    * the caller supplies the RETRAINED rotation — a trained parameter like
    * the codebooks, derived from the current corpus (e.g.
    * [[graft.operators.Opq.trainRotation]] over a survivor sample) — and
    * the residual codebooks retrain in the rotated space before the
    * one-pass rotated-residual re-encode.
    */
  def migrateOpq(spark: SparkSession, root: String, corpus: DataFrame,
                 idCol: String, vecCol: String,
                 nlist: Int, m: Int, ksub: Int, dim: Int,
                 rotation: Array[Array[Double]], iters: Int = 1,
                 trainSampleN: Option[Int] = None,
                 keepOld: Boolean = false): Migrated =
    migrateImpl(spark, root, corpus, idCol, vecCol, nlist, iters, trainSampleN,
      keepOld) {
      // rotated-residual codebooks also depend on the new centroids —
      // sequential like the residual chain
      (train, survivors, cents, _) =>
        val resid = AnnIndex.pqResidualCorpus(train, idCol, vecCol,
          nlist, Some(cents))
        val rotated = resid.select(col(idCol),
          graft.functions.VectorFunctions.matVec(col("__resid"), rotation).as("__resid"))
        val cbs = AnnIndex.pqTrainCodebooks(rotated, idCol, "__resid",
          m, ksub, dim, iters)
        (cbs, AnnIndex.pqResidualEncodedCorpus(survivors, idCol, vecCol,
          m, ksub, dim, nlist, Some(cbs), Some(cents), Some(rotation)))
    }

  /** [[migrate]] for the SQ8 chain (r19 verdict task 2 — the last
    * quantizer without lifecycle parity): "codebook" retraining is a
    * re-fit of the per-dim min/max on the survivors ([[AnnIndex
    * .sq8Train]] — a 64-row parameter aggregate), and the one-pass
    * re-encode writes byte codes ([[AnnIndex.sq8EncodedCorpus]]). The
    * refit params ride [[Migrated.codebooks]] as `[[mins], [maxes]]`.
    */
  def migrateSq8(spark: SparkSession, root: String, corpus: DataFrame,
                 idCol: String, vecCol: String, nlist: Int,
                 iters: Int = 1, trainSampleN: Option[Int] = None,
                 keepOld: Boolean = false): Migrated =
    migrateImpl(spark, root, corpus, idCol, vecCol, nlist, iters, trainSampleN,
      keepOld,
      // the per-dim min/max refit reads raw vectors only — independent of
      // the new coarse centroids, so it overlaps the coarse Lloyd chain
      trainIndependent = Some { train =>
        val rows = AnnIndex.sq8Train(train, vecCol).collect() // ≤ dim rows — parameters
        val params = rows.sortBy(_.getLong(0))
          .map(r => (r.getDouble(1), r.getDouble(2)))
        Array(Array(params.map(_._1).toSeq), Array(params.map(_._2).toSeq))
      }) {
      (_, survivors, cents, pre) =>
        val cbs = pre.get
        val params = cbs(0)(0).zip(cbs(1)(0)).toArray
        val enc = AnnIndex.sq8EncodedCorpus(survivors, idCol, vecCol,
          nlist, params, Some(cents))
        (cbs, enc)
    }

  /** The versioned sibling a keepOld migration retires the generation to. */
  private[graft] def retiredName(root: String, v: Long): String =
    s"$root.retired-v$v"

  /** ROLLBACK of a keepOld migration (r19 verdict missing #4 — a canary
    * that decides AGAINST the new quantizer after the swap previously had
    * nothing to roll back to): re-promote the retained previous
    * generation over the live root. The demoted generation is itself
    * retained at its versioned sibling, so roll-FORWARD stays possible.
    * The version marker travels inside each generation directory, so the
    * restored version is whatever the restored generation carries.
    *
    * ERASE WINS THROUGH A ROLLBACK: the sibling tombstone log is
    * version-free and unaffected by the swap — but the restored
    * generation PREDATES any erasure executed while the newer one was
    * live, so rollback replays the log against the restored content: one
    * scan of the restored index names the partitions holding logged ids
    * (bounded collect, ≤ one row per partition), then the standard
    * touched-only [[IndexErasure.repairErased]] runs. A rollback is a
    * rare administrative act; the one index scan is the honest price of
    * not knowing the restored generation's cell assignment parameters.
    *
    * Returns the restored version. Idempotent given idempotent inputs:
    * rolling back twice fails fast on the version guard rather than
    * ping-ponging generations.
    */
  def rollback(spark: SparkSession, root: String,
               partCol: String, idCol: String): Long =
    promoteRetired(spark, root, partCol, idCol, back = true)

  /** The inverse of [[rollback]]: re-promote the generation a rollback
    * demoted (`<root>.retired-v<current+1>`). Same swap symmetry (the
    * demoted generation is retained at its versioned sibling) and the
    * same tombstone-log replay, so erasures executed while the OLDER
    * generation was live are applied to the restored newer one.
    */
  def rollForward(spark: SparkSession, root: String,
                  partCol: String, idCol: String): Long =
    promoteRetired(spark, root, partCol, idCol, back = false)

  private def promoteRetired(spark: SparkSession, root: String,
                             partCol: String, idCol: String, back: Boolean): Long =
    FsLock.withLock(fs(spark), root)(synchronized {
      val f = fs(spark)
      val op = if (back) "rollback" else "rollForward"
      val vCur = version(spark, root)
      require(!back || vCur > 1,
        s"IndexMigration.rollback: $root is at version $vCur — nothing to roll back to")
      val target = if (back) vCur - 1 else vCur + 1
      val retired = new Path(retiredName(root, target))
      require(f.exists(new Path(retired, "_SUCCESS")),
        s"IndexMigration.$op: no retained generation at $retired " +
          (if (back) "(was the migration run with keepOld = true?)"
           else "(nothing was rolled back past this version)"))
      StagedSwap.swap(f, retired, new Path(root),
        new Path(retiredName(root, vCur)), keepOld = true)
      IndexErasure.erasedIds(spark, root).foreach { log =>
        val idx = IndexErasure.readPartitioned(spark, root, partCol)
        // ONE scan of the restored generation yields the touched partitions
        // AND their repair manifest together (guide §2.4 — previously a
        // distinct-collect discovery scan plus a second manifest scan of
        // the touched dirs inside the repair); the log is distinct, so the
        // left join cannot multiply rows
        val perPart = idx
          .join(broadcast(log), idx(idCol) === log("__erased_id"), "left")
          .groupBy(col(partCol))
          .agg(count(lit(1)).as("nb"),
            sum(when(col("__erased_id").isNotNull, 1L).otherwise(0L)).as("nr"))
          .collect() // bounded: ≤ one row per live partition
        val manifest = perPart
          .map(r => (r.getAs[Long](partCol), r.getAs[Long]("nb"),
            r.getAs[Long]("nr"), r.getAs[Long]("nb") - r.getAs[Long]("nr")))
          .filter(_._3 > 0).sortBy(_._1).toSeq
        if (manifest.nonEmpty)
          // the replay's tombstones ARE the persisted log — skip re-logging
          IndexErasure.repairErasedLogged(spark, root, partCol,
            manifest.map(_._1), idCol, log.select(col("__erased_id").as(idCol)),
            precomputedManifest = Some(manifest))
      }
      version(spark, root)
    })

  /** The deterministic fixed-size training sample: the `n` survivors with
    * the lowest (hash-priority, id) — [[graft.operators.Sampling
    * .hashShard]]'s mixing hash, the same priority the token-budget mixer
    * uses, so the oracle derives the SAME sample with
    * [[graft.operators.Sampling.hashShardSql]] mirrored token-for-token.
    * Plan shape: map-only priority + TakeOrderedAndProject — no shuffle
    * of the corpus, N rows to the driver side of nothing (the limit stays
    * distributed until the train aggregates collect parameters).
    */
  private[graft] def trainSample(survivors: DataFrame, idCol: String, n: Int): DataFrame =
    survivors
      .orderBy(graft.operators.Sampling.hashShard(col(idCol), 1000003), col(idCol))
      .limit(n)

  /** The chain-agnostic core: survivors (tombstone log anti-joined) →
    * training set (all survivors, or the fixed-size hash sample) → new
    * coarse centroids → chain-specific codebooks + encode (the
    * `trainEncode` function, fed the training set, the survivors, the new
    * centroids, and the `trainIndependent` result) → staged
    * cell-partitioned build → version marker → swap.
    *
    * `trainIndependent`: the chain's codebook training WHEN it does not
    * read the new coarse centroids (raw-PQ argmin over the vector itself,
    * SQ8 per-dim min/max). The two parameter trainings are then
    * independent bounded-collect chains over the same cached training
    * relation, so they run OVERLAPPED (guide §2.6 — previously 4 strictly
    * sequential driver actions per migration; arithmetic and collected
    * parameters are unchanged, only the serialization between the two
    * chains is removed). Chains whose codebooks quantize v − centroid
    * (residual, OPQ) pass None and stay sequential by necessity.
    */
  private[graft] def migrateImpl(spark: SparkSession, root: String, corpus: DataFrame,
                                 idCol: String, vecCol: String, nlist: Int, iters: Int,
                                 trainSampleN: Option[Int] = None,
                                 keepOld: Boolean = false,
                                 trainIndependent: Option[DataFrame => Array[Array[Seq[Double]]]] = None)(
      trainEncode: (DataFrame, DataFrame, Array[Seq[Double]], Option[Array[Array[Seq[Double]]]]) => (Array[Array[Seq[Double]]], DataFrame))
  : Migrated = FsLock.withLock(fs(spark), root)(synchronized {
    val f = fs(spark)
    require(f.exists(new Path(root, "_SUCCESS")),
      s"IndexMigration: no live index at $root")
    val vBefore = version(spark, root)
    // erase-wins across versions: anti-join the tombstone log BEFORE
    // training — an erased id must shape neither the new parameters nor
    // the new index content
    val log = IndexErasure.erasedIds(spark, root)
    val survivors = log.fold(corpus)(t =>
      corpus.join(broadcast(t), corpus(idCol) === t("__erased_id"), "left_anti"))
      .cache() // three consumers: centroid train, codebook train, encode
    try {
    // raw and surviving mass in ONE corpus pass (two sequential counts were
    // two full scans for two scalars); without a log the counts coincide.
    // survivors.count() doubles as the cache materializer in that branch;
    // with a log, the first training action materializes it instead.
    val (nRaw, nSurv) = log match {
      case None =>
        val n = survivors.count() // materializes the cache
        (n, n)
      case Some(t) =>
        val r = corpus
          .join(broadcast(t.select(col("__erased_id"), lit(1L).as("__e"))),
            corpus(idCol) === col("__erased_id"), "left")
          .agg(count(lit(1L)).as("nr"),
            sum(when(col("__e").isNull, 1L).otherwise(0L)).as("ns"))
          .head()
        (r.getLong(0), r.getLong(1))
    }
    require(nSurv > 0, s"IndexMigration: surviving corpus for $root is empty")
    // the training relation: everything, or the deterministic fixed-size
    // sample (cached — the Lloyd iterations re-read it per step)
    val train = trainSampleN.fold(survivors)(n =>
      trainSample(survivors, idCol, n).cache())
    try {
    // centroid-independent codebook training overlaps the coarse Lloyd
    // chain (same cached train relation; Spark serves concurrent actions).
    // A failed chain cancels the training's jobs and joins its thread, and
    // a failed training lets the chain finish, before the finally below
    // unpersists `train`.
    def coarse = AnnIndex.kmeansCentroids(train, vecCol, idCol, nlist, iters)
    val (pre, cents) = trainIndependent match {
      case Some(f) =>
        val (p, c) = Overlap.alongside(spark, "migrate-pretrain")(f(train))(coarse)
        (Some(p), c)
      case None => (None, coarse)
    }
    // ONE distributed encode pass under the new quantizer, written
    // cell-partitioned into a staging sibling (never into the live root)
    val (cbs, encoded) = trainEncode(train, survivors, cents, pre)
    val enc = encoded
      .select(col(idCol), col("__cell").cast("long").as("cell"), col("__codes"))
    val tmp = new Path(root + ".tmp-" +
      java.util.UUID.randomUUID().toString.take(8))
    WriteLayout.clusterBy(enc, "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    val nCells = f.listStatus(tmp).count(s =>
      s.isDirectory && s.getPath.getName.startsWith("cell="))
    // stamp the new version INSIDE the staging dir so the marker and the
    // content promote in the same rename
    val out = DriverParquet.fileSystem(spark, tmp).create(markerIn(tmp), true)
    try out.write((vBefore + 1).toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // keepOld (r19 verdict missing #4): retain the retired generation at
    // a VERSIONED sibling so a canary that decides against the new
    // quantizer has something to roll back to ([[rollback]])
    if (keepOld)
      StagedSwap.swap(f, tmp, new Path(root),
        new Path(retiredName(root, vBefore)), keepOld = true)
    else
      StagedSwap.swap(f, tmp, new Path(root), new Path(root + ".old"))
    Migrated(vBefore, vBefore + 1, nSurv, nRaw - nSurv, nCells.toLong, cents, cbs)
    } finally { if (trainSampleN.isDefined) train.unpersist() }
    // unpersist in finally (review r19): a failed migration must not pin a
    // corpus-sized cached relation in executor memory for the session
    } finally survivors.unpersist()
  })
}
