package graft.streaming

import graft.Tables
import graft.functions.MathFunctions.floorRound
import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming ingestion dedup — the production topology of
  * [[Dedup.dedupDeltaAgainstCorpus]]: new documents arrive as a structured
  * stream, compute their LSH band keys as pure map-side expressions (the
  * fused shingle/minhash kernels run unchanged inside the streaming plan),
  * and probe the STANDING corpus index via a stream-static join. No
  * streaming state at all: candidate verification is stateless per row,
  * duplicates across micro-batches collapse in the post-drain
  * reconciliation — the same pattern q37 uses for provisional session
  * emissions.
  *
  * At 100 TB the static side is the precomputed band-key index of the
  * corpus (here derived inline from the fixture); each arriving batch costs
  * O(batch · bands) probe rows against it, never a corpus rescan.
  */
object StreamingDedup {

  /** Delta docs (doc_id % 10 == 0) that survive LSH near-dup checks against
    * the static corpus (doc_id % 10 != 0) and earlier delta docs — result
    * is row-identical to the batch [[Dedup.dedupDeltaAgainstCorpus]] on the
    * same split (the corpus check streams; the within-delta keep-first is
    * the batch pair operator on the small delta, exactly how an ingest
    * pipeline composes the two).
    */
  def deltaDedup(spark: SparkSession, dir: String, shingleSize: Int = 3,
                 numHashes: Int = 32, bands: Int = 16,
                 threshold: Double = 0.5): DataFrame = {
    val docs        = Tables.documents(spark, dir)
    val corpus      = docs.filter(col("doc_id") % 10 =!= 0)
    val deltaStatic = docs.filter(col("doc_id") % 10 === 0)

    // standing index: band keys + shingle sets of the corpus (static side)
    val index = Dedup.bandKeysFor(corpus, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("doc_id").as("id_a"), col("hs").as("hs_a"), col("band"), col("band_key"))

    // the stream: documents file source, delta rows only; banding is map-only
    val deltaStream = StreamingAgg.streamTable(spark, dir, "documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    val probe = Dedup.bandKeysFor(deltaStream, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("band"), col("band_key"))

    // stream-static inner join + stateless verify; Append emits one row per
    // colliding band, duplicates reconciled after the drain
    val dropped = probe.join(index, Seq("band", "band_key"))
      .withColumn("jac", floorRound(Dedup.jaccardOfSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_b")
    val droppedByCorpus = StreamingAgg.drain(dropped, "graft_stream_deltadedup", "append")
      .distinct()

    // within-delta keep-first (batch over the small delta side)
    val withinPairs = Dedup.minhashLshPairs(deltaStatic, "doc_id", "text",
      shingleSize, numHashes, bands, threshold)

    Dedup.keepFirst(deltaStatic, "doc_id", withinPairs)
      .join(droppedByCorpus.withColumnRenamed("id_b", "doc_id"), Seq("doc_id"), "left_anti")
  }

  /** STREAMED MULTI-AXIS INGEST VERDICT (the fusion × streaming matrix
    * cell): delta documents arrive as a stream and probe the STANDING
    * corpus on two axes at once — exact text-hash identity (stream-static
    * equi-join on md5) and banded-MinHash resemblance (band-key probe +
    * exact-Jaccard verify, [[deltaDedup]]'s shape) — both as stateless
    * map/join branches of ONE streaming source, tagged and drained
    * together. The batch-side reconciliation fuses the drained evidence
    * into one verdict row per delta doc (flags, drop/keep, precedence
    * `exact` > `jaccard`) — [[graft.operators.Dedup.verdictFusion]]'s
    * decision shape at ingest time, certifying clean docs too.
    *
    * Scale: the standing sides are precomputable indexes (hash set, band
    * keys); each arriving batch costs its own hashing/banding plus two
    * equi-join probes — no streaming state at all, duplicates collapse in
    * the post-drain distinct.
    */
  def streamVerdictGate(spark: SparkSession, dir: String,
                        shingleSize: Int = 3, numHashes: Int = 32,
                        bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val hashIdx = corpus.select(md5(col("text")).as("h")).distinct()
    val bandIdx = Dedup.bandKeysFor(corpus, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("hs").as("hs_a"), col("band"), col("band_key"))

    val stream = StreamingAgg.streamTable(spark, dir, "documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    val exactHits = stream
      .select(col("doc_id").as("id_b"), md5(col("text")).as("h"))
      .join(hashIdx, Seq("h"))
      .select(col("id_b"), lit("exact").as("axis"))
    val jacHits = Dedup.bandKeysFor(stream, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("band"), col("band_key"))
      .join(bandIdx, Seq("band", "band_key"))
      .withColumn("jac", floorRound(Dedup.jaccardOfSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select(col("id_b"), lit("jaccard").as("axis"))
    val drained = StreamingAgg.drain(exactHits.unionByName(jacHits),
      "graft_stream_verdict", "append").distinct()

    def flag(axis: String, name: String) = drained.filter(col("axis") === axis)
      .select(col("id_b").as("doc_id")).distinct().withColumn(name, lit(1L))
    docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      .join(flag("exact", "f_exact"), Seq("doc_id"), "left")
      .join(flag("jaccard", "f_jaccard"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("f_exact", "f_jaccard"))
      .withColumn("drop_doc",
        when(col("f_exact") + col("f_jaccard") > 0, 1L).otherwise(0L))
      .withColumn("reason",
        when(col("f_exact") === 1, "exact")
          .when(col("f_jaccard") === 1, "jaccard")
          .otherwise("keep"))
      .orderBy("doc_id")
  }

  /** STREAMED CROSS-MODAL INGEST GATE (q214): [[streamVerdictGate]] with the
    * q212 SEMANTIC axis as a third stateless branch — arriving docs embed
    * map-side (the codegen'd [[graft.pipeline.HashingEmbedder]] raw-count
    * kernel), compute ONE SRP bucket each, and equi-join a standing
    * semantic index of the corpus. The hamming ≤ 1 multiprobe expansion
    * lives on the STATIC side (each corpus row is indexed under its own
    * bucket plus every 1-bit flip — the classic expand-the-index-or-the-
    * query trade, resolved index-side so the stream row costs one bucket
    * evaluation and one probe): symmetric hamming means stream-bucket ∈
    * probes(corpus-bucket) ⟺ corpus-bucket ∈ probes(stream-bucket), so this
    * is candidate-identical to q212's query-side multiprobe. Verification
    * (exact cosine ≥ τ) is stateless per candidate row.
    *
    * Precedence at fuse time: exact > jaccard > semantic — the q212 order
    * restricted to the axes this gate runs. No streaming state; duplicates
    * collapse in the post-drain distinct.
    */
  def streamCrossModalGate(spark: SparkSession, dir: String,
                           shingleSize: Int = 3, numHashes: Int = 32,
                           bands: Int = 16, threshold: Double = 0.5,
                           embDim: Int = 64, nbits: Int = 0,
                           cosThreshold: Double = 0.95): DataFrame = {
    import graft.functions.VectorFunctions.{cosineFromNormSq, l2NormSq}
    import graft.operators.AnnIndex
    val emb = graft.pipeline.HashingEmbedder(embDim)
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val hashIdx = corpus.select(md5(col("text")).as("h")).distinct()
    val bandIdx = Dedup.bandKeysFor(corpus, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("hs").as("hs_a"), col("band"), col("band_key"))
    // standing semantic index: slim (id, band, bucket) computed once behind
    // a cache barrier (the q28 collapse lesson), vectors joined back on the
    // id — all static, built before the stream. nbits <= 0 = the banded
    // corpus-mean-centered scale path (Dedup.semanticAxisLosers' policy):
    // band width from the STANDING side's row count, centering mean from
    // the standing vectors — stream rows center by the INDEX's mean, the
    // only choice that keeps probe and index in one geometry. nbits > 0
    // pins the legacy single-table hamming-1 probe.
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching). The embedded static corpus is read by FOUR consumers (the
    // band-width count, the centering mean, the slim index build, and the
    // per-micro-batch vector attach) — uncached, each re-runs the full
    // embed kernel (measured r16: the banded gate went 1.9 s → 5.9 s at
    // sf0.1 before this barrier)
    val corpusVec = corpus.select(col("doc_id").as("id_a"),
      emb.embedRaw(col("text")).as("v_a")).cache()
    val bandedParams: Option[(Int, Seq[Long])] =
      if (nbits > 0) None
      else Some((AnnIndex.autoBandBits(corpusVec.count()),
        AnnIndex.flooredMeanVec(corpusVec, "v_a", embDim)))
    def buckets(v: org.apache.spark.sql.Column) = bandedParams match {
      case Some((rb, m)) =>
        AnnIndex.bandBucketsCol(v, rb, graft.operators.Dedup.SemBands, m)
      case None =>
        array(AnnIndex.bucketCol(v, AnnIndex.hyperplanes(nbits, embDim)))
    }
    // cache-lifetime: pinned by the returned plan — caller releases (see Caching)
    val slim = corpusVec.select(col("id_a"),
      posexplode(buckets(col("v_a"))).as(Seq("__band", "__b0"))).cache()
    val semIdx = (bandedParams match {
      case Some(_) => slim.select(col("id_a"), col("__band"), col("__b0").as("__bucket"))
      case None => slim.select(col("id_a"), col("__band"),
        explode(AnnIndex.probesCol(col("__b0"), nbits)).as("__bucket"))
    }).join(corpusVec.withColumn("__nsq_a", l2NormSq(col("v_a"))), Seq("id_a"))

    val stream = StreamingAgg.streamTable(spark, dir, "documents.parquet")
      .filter(col("doc_id") % 10 === 0)
    val exactHits = stream
      .select(col("doc_id").as("id_b"), md5(col("text")).as("h"))
      .join(hashIdx, Seq("h"))
      .select(col("id_b"), lit("exact").as("axis"))
    val jacHits = Dedup.bandKeysFor(stream, "doc_id", "text", shingleSize, numHashes, bands)
      .select(col("doc_id").as("id_b"), col("hs").as("hs_b"), col("band"), col("band_key"))
      .join(bandIdx, Seq("band", "band_key"))
      .withColumn("jac", floorRound(Dedup.jaccardOfSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select(col("id_b"), lit("jaccard").as("axis"))
    val semHits = stream
      .select(col("doc_id").as("id_b"), emb.embedRaw(col("text")).as("v_b"))
      .withColumn("__nsq_b", l2NormSq(col("v_b")))
      // a pair matching in several bands scores identically each time; the
      // drained distinct() collapses the (id_b, axis) duplicates
      .select(col("id_b"), col("v_b"), col("__nsq_b"),
        posexplode(buckets(col("v_b"))).as(Seq("__band", "__bucket")))
      .join(semIdx, Seq("__band", "__bucket"))
      .withColumn("score", floorRound(
        cosineFromNormSq(col("v_a"), col("v_b"), col("__nsq_a"), col("__nsq_b")), 6))
      .filter(col("score") >= cosThreshold)
      .select(col("id_b"), lit("semantic").as("axis"))
    val drained = StreamingAgg.drain(
      exactHits.unionByName(jacHits).unionByName(semHits),
      "graft_stream_xmodal", "append").distinct()

    def flag(axis: String, name: String) = drained.filter(col("axis") === axis)
      .select(col("id_b").as("doc_id")).distinct().withColumn(name, lit(1L))
    docs.filter(col("doc_id") % 10 === 0).select("doc_id")
      .join(flag("exact", "f_exact"), Seq("doc_id"), "left")
      .join(flag("jaccard", "f_jaccard"), Seq("doc_id"), "left")
      .join(flag("semantic", "f_semantic"), Seq("doc_id"), "left")
      .na.fill(0L, Seq("f_exact", "f_jaccard", "f_semantic"))
      .withColumn("drop_doc",
        when(col("f_exact") + col("f_jaccard") + col("f_semantic") > 0, 1L).otherwise(0L))
      .withColumn("reason",
        when(col("f_exact") === 1, "exact")
          .when(col("f_jaccard") === 1, "jaccard")
          .when(col("f_semantic") === 1, "semantic")
          .otherwise("keep"))
      .orderBy("doc_id")
  }

  /** The q243 trained geometry as STANDING content-keyed artifacts —
    * embedded reps (cached), band width, trained centroids, rep cell
    * assignments, per-cell floored means, and the cell-scoped banded rep
    * index — built once per input dir and shared by the streamed dedup
    * twin (q250) and the band-index erasure repair (q253).
    * Returns (repVecs, rbits, cents, asg, mu, bandIdx).
    */
  private[graft] def semCellStanding(spark: SparkSession, dir: String,
                                     reps: DataFrame, embDim: Int, k: Int)
      : (DataFrame, Int, Seq[Seq[Double]], DataFrame, DataFrame, DataFrame) = {
    import graft.operators.AnnIndex
    import graft.pipeline.ArtifactStore
    val emb = graft.pipeline.HashingEmbedder(embDim)
    // cache-lifetime: pinned by the returned plans — caller releases (see
    // Caching); kmeans training, width count, assignment, the banded-index
    // build, and every consumer's verify read the embedded reps
    val repVecs = reps.select(col("doc_id"), emb.embedRaw(col("text")).as("v")).cache()
    val rbits = AnnIndex.autoBandBits(repVecs.count())
    // standing artifact 1: trained centroids (q243's exact trainer)
    val centsDf = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"semcell_cents_d${embDim}_k${k}_i1_v1")) {
      import spark.implicits._
      AnnIndex.kmeansCentroids(repVecs, "v", "doc_id", k, iters = 1)
        .zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("ci", "cv")
    }
    val cents: Seq[Seq[Double]] =
      centsDf.orderBy("ci").collect().map(_.getSeq[Double](1)).toSeq // k rows — parameters
    // standing artifact 2: rep cell assignments under the trained cells
    val asg = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"semcell_asg_d${embDim}_k${k}_i1_v1")) {
      AnnIndex.ivfAssignTrained(repVecs, "doc_id", "v", cents)
    }
    // standing artifact 3: per-cell floored means (the centering parameters)
    val mu = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"semcell_mu_d${embDim}_k${k}_i1_v1")) {
      AnnIndex.perCellFlooredMeans(repVecs.join(asg, Seq("doc_id")), "v", "cell")
    }
    // standing artifact 4: the cell-scoped banded index of every rep
    val bandIdx = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"semcell_bands_d${embDim}_k${k}_b${Dedup.SemBands}_r${rbits}_v1")) {
      AnnIndex.cellBandBuckets(repVecs.join(asg, Seq("doc_id")),
        "doc_id", "v", "cell", rbits, Dedup.SemBands)
    }
    (repVecs, rbits, cents, asg, mu, bandIdx)
  }

  /** STREAMED CELL-SCOPED SEMANTIC DEDUP — q243's multi-domain trained-cell
    * path at ingest time (r16 verdict task 3): the trained geometry stands
    * as content-keyed artifacts — Lloyd centroids (k lowest-id-init reps,
    * one step), per-cell floored means, and the cell-scoped banded index of
    * every distinct-text rep, each built once per input dir via
    * [[graft.pipeline.ArtifactStore]] — and documents arrive as file-source
    * micro-batches that probe it STATELESSLY: an arriving doc embeds
    * map-side, assigns to its cell (argmin against the k trained centroids
    * — one kernel node, no aggregate, so it stays a pure map in the
    * streaming plan), centers by ITS CELL's mean (a
    * broadcast stream-static join on the cell id), computes its band
    * buckets with the SAME kernel the index used, and joins the index on
    * (cell, band, bucket) with `id_a < id_b` — which IS keep-first: a doc
    * is a loser exactly when some lower-id rep in its cell verifies at raw
    * cosine ≥ τ. The exact-duplicate axis (non-rep docs inherit the flag)
    * is a stream-static md5 join with the same id ordering. Hits append to
    * a content-keyed artifact per micro-batch ([[graft.pipeline
    * .ArtifactStore.appendBatchIfAbsent]], the q203 idempotence contract);
    * per-doc results depend only on (doc, standing artifacts), so any
    * micro-batching reproduces the batch operator — the oracle is q243's
    * SQL verbatim.
    *
    * Scale: the rep corpus is scanned once ever (artifact builds); each
    * micro-batch costs embed + k dots + bands kernel + two equi-join
    * probes. No streaming state; duplicates collapse in the post-drain
    * distinct.
    */
  def streamSemanticCellDedup(spark: SparkSession, dir: String,
                              embDim: Int = 64, k: Int = 16,
                              cosThreshold: Double = 0.95,
                              hitsName: String = "semcell_hits_stream_d64_k16_b16_c095_v1")
      : DataFrame = {
    import graft.functions.VectorFunctions.{cosineFromNormSq, l2NormSq}
    import graft.operators.AnnIndex
    import graft.pipeline.ArtifactStore
    val emb = graft.pipeline.HashingEmbedder(embDim)
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    val reps = Dedup.exactDedup(d, "doc_id", "text")
    val (repVecs, rbits, cents, asg, mu, bandIdx) =
      semCellStanding(spark, dir, reps, embDim, k)
    val idxSide = bandIdx
      .select(col("doc_id").as("id_a"), col("cell"), col("__band"), col("__bucket"))
      .join(repVecs.select(col("doc_id").as("id_a"), col("v").as("v_a"))
        .withColumn("__nsq_a", l2NormSq(col("v_a"))), Seq("id_a"))
    val hashIdx = reps.select(md5(col("text")).as("h"), col("doc_id").as("id_a"))
    val hitsRoot = ArtifactStore.rootFor(dir, hitsName)

    // map-side cell assignment for ARRIVING rows: argmin over the k trained
    // centroids as one kernel node (no aggregate — streaming plans stay
    // stateless, and the re-plan per micro-batch carries no centroid literals)
    val centMat = AnnIndex.centMat(cents)

    // the ingest: one micro-batch per planned batch (doc_id % 2)
    StreamingAgg.drainSeeded(d, col("doc_id") % 2, "graft_stream_semcell") { batch =>
      val contentKey = batch.agg(min(col("doc_id") % 2)).head.getLong(0)
      ArtifactStore.appendBatchIfAbsent(spark, hitsRoot, contentKey) {
        // exact axis: a lower-id rep with identical text and a nonzero
        // vector (q243's dupz rule — zero vectors never score)
        val exactHits = batch
          .select(col("doc_id").as("id_b"), md5(col("text")).as("h"),
            emb.embedRaw(col("text")).as("v_b"))
          .filter(l2NormSq(col("v_b")) > 0.0)
          .join(hashIdx, Seq("h"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_b"))
        // semantic axis: assign → center by the cell's mean → band →
        // probe the standing index within the cell, keep-first order
        val semHits = batch
          .select(col("doc_id").as("id_b"), emb.embedRaw(col("text")).as("v_b"))
          .withColumn("cell", AnnIndex.argminCell(col("v_b"), centMat).cast("long"))
          .join(broadcast(mu), Seq("cell"))
          .withColumn("__nsq_b", l2NormSq(col("v_b")))
          .select(col("id_b"), col("cell"), col("v_b"), col("__nsq_b"),
            posexplode(AnnIndex.bandBucketsColOf(col("v_b"), col("__mu"),
              rbits, Dedup.SemBands)).as(Seq("__band", "__bucket")))
          .join(idxSide, Seq("cell", "__band", "__bucket"))
          .filter(col("id_a") < col("id_b"))
          .withColumn("score", floorRound(
            cosineFromNormSq(col("v_a"), col("v_b"), col("__nsq_a"), col("__nsq_b")), 6))
          .filter(col("score") >= cosThreshold)
          .select(col("id_b"))
        exactHits.unionByName(semHits).distinct()
      }
    }
    val losers = ArtifactStore.readBatches(spark, hitsRoot)
      .select(col("id_b").as("doc_id")).distinct().withColumn("__f", lit(1L))
    d.select("doc_id")
      .join(losers, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("__f"), lit(0L)).as("f_semantic"))
      .orderBy("doc_id")
  }

  /** STREAM-MAINTAINED near-dup hits artifact (r12 verdict task 2): q200's
    * incremental index maintenance driven by the streaming engine instead
    * of explicit driver calls — test documents arrive as file-source
    * micro-batches, `foreachBatch` probes each against the STANDING train
    * band/signature artifacts and appends the batch's pairs to the hits
    * artifact via [[graft.pipeline.ArtifactStore.appendBatchIfAbsent]].
    * Stream-maintained ≡ batch-maintained ≡ rebuilt: per-test-doc results
    * depend only on that doc and the train index, so the union over any
    * micro-batching equals the full two-sided rebuild — the oracle is
    * q194's SQL verbatim.
    *
    * Idempotence under at-least-once `foreachBatch`: artifact batches are
    * keyed by CONTENT (the batch's min test id), not by the engine's
    * batchId — a replayed micro-batch (or a whole replayed stream over a
    * live artifact, StreamingSpec's replay leg) recomputes the same key,
    * finds it live, and skips; engine batch numbering and file-listing
    * order can never misalign the artifact.
    * [[StreamingAgg.drainSeeded]] streams one micro-batch per planned batch.
    *
    * Scale: the train corpus is scanned once ever (artifact build); each
    * micro-batch costs its own shingling + a band equi-join probe. The
    * artifact grows append-only, one subdirectory per ingest batch — the
    * reference pipeline's mtime short-circuit (`main.py:143-147`) applied
    * to a streaming index.
    */
  def streamMaintainedNearDupHits(spark: SparkSession, dir: String,
                                  shingleSize: Int = 3, numHashes: Int = 32,
                                  bands: Int = 16, threshold: Double = 0.5,
                                  hitsName: String = "neardup_hits_stream_s3_h32_b16_v1")
      : DataFrame = {
    import graft.pipeline.ArtifactStore
    val d = Tables.documents(spark, dir).select("doc_id", "text")
    // the standing train index — SHARED with q200 (one deployment index,
    // two consumers: batch maintenance there, streaming maintenance here)
    lazy val idx = Dedup.trainNearDupIndex(
      d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
      shingleSize, numHashes, bands)
    val trainBands = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"neardup_train_bands_s${shingleSize}_h${numHashes}_b${bands}_v1"))(idx._1)
    val trainSigs = ArtifactStore.loadOrBuild(spark,
      ArtifactStore.rootFor(dir, s"neardup_train_sigs_s${shingleSize}_h${numHashes}_b${bands}_v1"))(idx._2)
    val hitsRoot = ArtifactStore.rootFor(dir, hitsName)

    // the ingest: the test docs (doc_id % 5 = 0) as one micro-batch per
    // doc_id % 10 = 0 / = 5 — q200's exact batches
    StreamingAgg.drainSeeded(d.filter(col("doc_id") % 5 === 0), col("doc_id") % 10,
        "graft_stream_neardup") { batch =>
      val contentKey = batch.agg(min(col("doc_id") % 10)).head.getLong(0)
      ArtifactStore.appendBatchIfAbsent(spark, hitsRoot, contentKey) {
        Dedup.crossCorpusNearDupFromIndex(trainBands, trainSigs, batch,
          "doc_id", "text", shingleSize, numHashes, bands, threshold)
      }
    }
    ArtifactStore.readBatches(spark, hitsRoot).orderBy("test_id", "train_id")
  }
}
