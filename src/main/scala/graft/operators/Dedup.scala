package graft.operators

import graft.functions.TextFunctions._
import graft.functions.MathFunctions.floorRound
import graft.functions.expressions.PolyHash
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deduplication family for LLM-corpus pipelines (SURVEY.md §2.8 X-D):
  * exact, n-gram Jaccard (exact pairs), MinHash-LSH (Broder, "On the
  * resemblance and containment of documents", 1997; banding per Leskovec/
  * Rajaraman/Ullman, Mining of Massive Datasets ch. 3), SimHash (Charikar,
  * "Similarity estimation techniques from rounding algorithms", STOC 2002).
  *
  * Scale design:
  *  - [[exactDedup]] is one hash-shuffle on the content hash — the canonical
  *    100 TB exact-dedup plan (hash first so the shuffle key is 16 bytes, not
  *    the document).
  *  - [[jaccardPairsExact]] enumerates O(n²) pairs — it exists as the *exact
  *    verifier / oracle anchor* for small n. Never the scale path.
  *  - [[minhashLshPairs]] is the scale path: signature (k affine min-hashes) →
  *    band explode → equi-join on (band, band-hash). Shuffle volume is
  *    O(n · bands), candidates are only colliding pairs; exact Jaccard then
  *    prunes false positives. This is the standard shingle→minhash→band→
  *    bucket-join pipeline, expressed as joins Catalyst can plan (AQE handles
  *    skewed buckets).
  *  - [[simhashPairs]] uses 4×15-bit band buckets over a 60-bit SimHash —
  *    guaranteed recall for hamming distance ≤ 3, heuristic beyond.
  *
  * Hash family: every hash here is the SQL-expressible [[PolyHash]] modular
  * family (token/shingle polynomial, affine minhash, parity-vote simhash), so
  * the ENTIRE pipeline — candidates included — is mirrored in the DuckDB
  * oracles of q22b/q22c/q45.
  */
object Dedup {

  /** Keep one row per distinct value of `textCol` (lowest `idCol` wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Shingle sets represented by their SORTED hashes: Jaccard over the hash
    * sets equals string-set Jaccard up to hash collisions. Sorting once per
    * row lets every pair use the allocation-free merge-walk kernel
    * [[graft.functions.expressions.SortedIntersectionCount]] instead of a
    * hash-set build per pair — the dominant cost of pair verification.
    *
    * Two hash families, chosen per pipeline:
    *  - xxhash64 (64-bit) for the EXACT path ([[jaccardPairsExact]], q22/q44):
    *    its oracle computes Jaccard over the literal *string* shingle sets, so
    *    the hash-set Jaccard must equal the string-set Jaccard — collision
    *    odds must be negligible (64-bit: ~1e-11 across the corpus);
    *  - [[PolyHash]] mod-P (~30-bit) for the LSH paths ([[minhashLshPairs]],
    *    q22b/q45): collisions are real (~5e-6 per 100-shingle pair) but the
    *    oracle mirrors the SAME poly hashes in SQL, so both engines see
    *    identical sets and parity is exact — this is what buys the LSH
    *    pipeline a hash-checked oracle instead of a rows-only check.
    */
  private def withShinglesXx(df: DataFrame, idCol: String, textCol: String, n: Int) =
    // single fused kernel call per row (tokenize → token hash → shingle fold →
    // sort+dedup); the equivalent HOF column tree was the measured hotspot of
    // the whole dedup family (~5 s of q22b's 9.5 s at sf0.1)
    df.select(col(idCol), shingleHashesFused(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)

  private def withShinglesPoly(df: DataFrame, idCol: String, textCol: String, n: Int) =
    df.select(col(idCol), shingleHashesPoly(col(textCol), n).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Jaccard over sorted hash arrays via the fused merge-walk kernel; same
    * integer inter/union counts as [[graft.functions.TextFunctions.jaccard]],
    * so oracle parity is unchanged.
    */
  private def jaccardSorted(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) = {
    import graft.functions.expressions.SortedIntersectionCount
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val inter = B.column(SortedIntersectionCount(B.expression(a), B.expression(b))).cast("double")
    val uni   = (size(a) + size(b)).cast("double") - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** All pairs (id_a < id_b) with shingle-set Jaccard >= threshold.
    * O(n²) — exact verifier for small corpora; see [[minhashLshPairs]] for
    * the scale path.
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, threshold: Double): DataFrame = {
    // cache: both sides of the self-join read this small relation; without
    // it the whole shingle+hash pipeline executes twice (aliased self-join
    // branches don't share exchanges)
    // cache-lifetime: pinned by the returned plan — caller releases (see Caching)
    val sh = withShinglesXx(df, idCol, textCol, shingleSize).cache()
    val a  = sh.select(col(idCol).as("id_a"), col("hs").as("hs_a"))
    val b  = sh.select(col(idCol).as("id_b"), col("hs").as("hs_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
      .orderBy("id_a", "id_b")
  }

  /** All pairs (id_a < id_b) with shingle-set Jaccard >= threshold, via
    * PREFIX FILTERING (Chaudhuri, Ganti & Kaushik, "A primitive operator for
    * similarity joins in data cleaning", ICDE 2006; Xiao et al., "Efficient
    * similarity joins for near duplicate detection", WWW 2008) — the EXACT
    * similarity join that avoids O(n²) without the recall loss of banding:
    * two sets with Jaccard >= t must share an element among the first
    * |s| − ceil(t·|s|) + 1 elements of each set under any global total
    * order (pigeonhole on the sorted-set suffix), so candidates come from an
    * equi-join on exploded prefix tokens, plus the classic length filter
    * t·|a| <= |b| <= |a|/t. Exact verification then runs only on candidates.
    *
    * Same output contract as [[jaccardPairsExact]] (which stays as the
    * brute-force oracle anchor); this is the full-corpus scale path — the
    * shuffle carries prefix postings (≈ (1−t) of the shingle stream), and
    * candidate pairs are bounded by per-token posting-list sizes, never n².
    */
  def prefixJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val sets = withShinglesXx(df, idCol, textCol, shingleSize) // already drops empty shingle sets
      .withColumn("__len", size(col("hs")))
      .withColumn("__plen",
        (col("__len").cast("double") - ceil(col("__len").cast("double") * lit(threshold))
          + lit(1.0)).cast("int"))
      .cache() // three consumers: both prefix-explode sides + the verify join
    val pre = sets.select(col(idCol), col("__len"),
      explode(slice(col("hs"), lit(1), col("__plen"))).as("__tok"))
    val a = pre.select(col("__tok"), col(idCol).as("id_a"), col("__len").as("__la"))
    val b = pre.select(col("__tok"), col(idCol).as("id_b"), col("__len").as("__lb"))
    val cand = a.join(b, Seq("__tok"))
      .filter(col("id_a") < col("id_b") &&
        col("__lb").cast("double") >= ceil(col("__la").cast("double") * lit(threshold)) &&
        col("__lb").cast("double") <= floor(col("__la").cast("double") / lit(threshold)))
      .select("id_a", "id_b").distinct()
    cand
      .join(sets.select(col(idCol).as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
      .orderBy("id_a", "id_b")
  }

  /** Band key: fold the band's signature slice with (acc·R + x) mod P, seeded
    * with band+1 so identical slices in different bands cannot collide into
    * one bucket. Mirrored literally in the oracle SQL (list_reduce).
    */
  private def bandKey(sig: org.apache.spark.sql.Column, band: org.apache.spark.sql.Column,
                      rows: Int): org.apache.spark.sql.Column =
    aggregate(slice(sig, band * rows + 1, lit(rows)),
      (band + 1).cast("long"),
      (acc, x) => (acc * PolyHash.R + x) % PolyHash.P)

  /** Shingle hashes + LSH band keys for every row: (idCol, hs, band,
    * band_key), one row per band. Pure map-side expressions (fused kernels +
    * band explode), so it works identically over a batch relation and a
    * structured stream — [[graft.streaming.StreamingDedup]] probes a static
    * index built by this against a stream banded by this.
    */
  private[graft] def bandKeysFor(df: DataFrame, idCol: String, textCol: String,
                                 shingleSize: Int, numHashes: Int,
                                 bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    withShinglesPoly(df, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
      .select(col(idCol), col("hs"), col("band"), col("band_key"))
  }

  /** Exposed pair verifier for composition with [[bandKeysFor]]: exact
    * Jaccard over sorted shingle-hash arrays (merge-walk kernel). */
  private[graft] def jaccardOfSorted(a: org.apache.spark.sql.Column,
                                     b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    jaccardSorted(a, b)

  /** MinHash-LSH near-dup pairs: banding join for candidates, exact Jaccard
    * verify. `numHashes` must be divisible by `bands`.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int, numHashes: Int, bands: Int,
                      threshold: Double): DataFrame =
    lshCandidatesWithSets(df, idCol, textCol, shingleSize, numHashes, bands)
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select("id_a", "id_b", "jac")
      .orderBy("id_a", "id_b")

  /** Banded-MinHash candidate pairs with both shingle sets attached:
    * (id_a, id_b, hs_a, hs_b), id_a < id_b. Shared by the symmetric-Jaccard
    * ([[minhashLshPairs]]) and containment ([[containmentPairs]]) verifiers.
    */
  private def lshCandidatesWithSets(df: DataFrame, idCol: String, textCol: String,
                                    shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sig = withShinglesPoly(df, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .cache() // self-joined below — avoid recomputing signatures per branch
    val banded = sig
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
    // candidate generation over slim (id, band, band_key) rows only — the
    // per-band duplicates are dropped BEFORE the (heavy) shingle-hash arrays
    // are attached, so the dedup shuffle moves 16-byte rows, not kilobytes
    val slim = banded.select(col(idCol), col("band"), col("band_key"))
    val cand = slim.toDF("id_a", "band", "band_key")
      .join(slim.toDF("id_b", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(sig.select(col(idCol).as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
  }

  /** CROSS-CORPUS near-duplicate contamination: test documents whose
    * shingle-set Jaccard against ANY train document clears `threshold` —
    * the near-dup leg of the decontamination matrix. The verbatim legs
    * (fixed-n Bloom, unbounded suffix spans) miss contamination that was
    * lightly EDITED on the way into the training set; resemblance over
    * shingle sets (Broder 1997) is the standard detector for that class.
    *
    * Same banded-MinHash shape as [[minhashLshPairs]], with the candidate
    * join ACROSS sides (test band keys probe train band keys) instead of
    * the symmetric id < id self-join — so at 100 TB the train side is a
    * precomputed band-key index and each test batch costs its own bands
    * only, never a train rescan. Returns (test_id, train_id, jac).
    *
    * CACHE CONTRACT: both signature frames are `cache()`d (the band branch
    * and the verify branch each read them) with no unpersist handle —
    * a long-lived session calling this repeatedly must
    * `spark.catalog.clearCache()` between calls (the Verify/Bench mains
    * already do, per-query), or the cached signatures accumulate in
    * executor storage.
    */
  def crossCorpusNearDupPairs(train: DataFrame, test: DataFrame,
                              idCol: String, textCol: String,
                              shingleSize: Int, numHashes: Int, bands: Int,
                              threshold: Double): DataFrame = {
    val (trainBands, trainSigs) =
      trainNearDupIndex(train, idCol, textCol, shingleSize, numHashes, bands)
    crossCorpusNearDupFromIndex(trainBands, trainSigs, test, idCol, textCol,
      shingleSize, numHashes, bands, threshold)
  }

  /** The TRAIN side of [[crossCorpusNearDupPairs]] as a standalone INDEX:
    * (band table (train_id, band, band_key), signature table (train_id,
    * hs_b)) — the thing a 100 TB pipeline precomputes ONCE and persists
    * ([[graft.pipeline.ArtifactStore]]); each incoming test batch then
    * costs its own shingling + bands only, never a train rescan. q200
    * turns that scaladoc claim into a checked hash.
    */
  def trainNearDupIndex(train: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int,
                        bands: Int): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val tr = withShinglesPoly(train, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .cache() // cache-lifetime: band + signature outputs below (see Caching)
    val b = tr
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
      .select(col(idCol).as("train_id"), col("band"), col("band_key"))
    (b, tr.select(col(idCol).as("train_id"), col("hs").as("hs_b")))
  }

  /** [[crossCorpusNearDupPairs]]' probe side against a PREBUILT train
    * index (fresh from [[trainNearDupIndex]] or loaded from a materialized
    * artifact). Per-test-document results depend only on that document and
    * the train index, so per-batch probing composes exactly:
    * pairs(train, A ∪ B) = pairs(train, A) ∪ pairs(train, B).
    */
  def crossCorpusNearDupFromIndex(trainBands: DataFrame, trainSigs: DataFrame,
                                  test: DataFrame, idCol: String, textCol: String,
                                  shingleSize: Int, numHashes: Int, bands: Int,
                                  threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val te = withShinglesPoly(test, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .cache() // cache-lifetime: band branch + verify branch (see Caching)
    // slim (id, band, key) rows through the candidate shuffle; shingle-hash
    // arrays attach only after per-pair dedup (the minhashLshPairs rule)
    val cand = te
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
      .select(col(idCol).as("test_id"), col("band"), col("band_key"))
      .join(trainBands, Seq("band", "band_key"))
      .select("test_id", "train_id")
      .dropDuplicates("test_id", "train_id")
    cand
      .join(te.select(col(idCol).as("test_id"), col("hs").as("hs_a")), Seq("test_id"))
      .join(trainSigs, Seq("train_id"))
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select("test_id", "train_id", "jac")
      .orderBy("test_id", "train_id")
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) >= threshold over the
    * banded-MinHash candidates — the ASYMMETRIC variant that catches a short
    * document embedded in a long one, where symmetric Jaccard stays low
    * (Broder's containment measure, "On the resemblance and containment of
    * documents", SEQUENCES 1997). Candidates still come from symmetric-
    * Jaccard banding, the standard recall trade at extreme size ratios (a
    * tiny doc inside a huge one may never share a band); the oracle mirrors
    * the same candidate set, so verification is exact over it.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleSize: Int, numHashes: Int, bands: Int,
                       threshold: Double): DataFrame = {
    import graft.functions.expressions.SortedIntersectionCount
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val inter = B.column(SortedIntersectionCount(
      B.expression(col("hs_a")), B.expression(col("hs_b")))).cast("double")
    val minSize = least(size(col("hs_a")), size(col("hs_b"))).cast("double")
    lshCandidatesWithSets(df, idCol, textCol, shingleSize, numHashes, bands)
      .withColumn("containment", floorRound(inter / minSize, 4))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
      .orderBy("id_a", "id_b")
  }

  /** Per-document novelty: the fraction of the document's distinct n-gram
    * shingles whose FIRST corpus occurrence (minimum id) is this document —
    * the redundancy-contribution score of incremental corpus curation (a doc
    * whose shingles were all seen in earlier docs adds nothing; keep-first
    * dedup at shingle granularity). Complements document-level dedup
    * (q17/q44): a doc can be 0.3-novel without near-duplicating any single
    * earlier doc.
    *
    * Plan shape: explode to (id, shingle-hash) rows, one 8-byte-key shuffle
    * to find min(id) per hash, join back on the same key, re-aggregate per
    * doc — both shuffles are partial-aggregated and bounded by the corpus
    * shingle count, never quadratic. Documents shorter than `shingleSize`
    * tokens have no shingles and are absent from the output (mirrored in the
    * oracle).
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int): DataFrame = {
    val sh = df.select(col(idCol), explode(shingleHashesPoly(col(textCol), shingleSize)).as("sh"))
    val first = sh.groupBy("sh").agg(min(idCol).as("__first"))
    sh.join(first, Seq("sh"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L)).cast("long").as("n_novel"))
      .withColumn("novelty",
        floorRound(col("n_novel").cast("double") / col("n_shingles").cast("double"), 4))
  }

  /** Sketch-accuracy audit for the MinHash estimator: per LSH candidate pair,
    * the estimated Jaccard (fraction of agreeing signature components — the
    * unbiased MinHash estimate, Broder 1997) next to the exact shingle-set
    * Jaccard, with the absolute error. The audit the recall checks (q76/q78)
    * are to ANN, this is to MinHash: it makes the estimator's variance
    * (stddev ≈ sqrt(J(1−J)/k) ≈ 0.09 at k=32) VISIBLE instead of assumed,
    * on the corpus the pipeline actually runs on.
    *
    * Same banding plan as [[minhashLshPairs]] (slim candidate dedup before
    * the wide arrays attach); signatures ride along only for the surviving
    * candidates.
    */
  def sketchJaccardAudit(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rows = numHashes / bands
    val sig = withShinglesPoly(df, idCol, textCol, shingleSize)
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .cache() // self-joined below — avoid recomputing signatures per branch
    val banded = sig
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
    val slim = banded.select(col(idCol), col("band"), col("band_key"))
    val cand = slim.toDF("id_a", "band", "band_key")
      .join(slim.toDF("id_b", "band", "band_key"), Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v)
    cand
      .join(sig.select(col(idCol).as("id_a"), col("hs").as("hs_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("hs").as("hs_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jac", floorRound(matches.cast("double") / numHashes, 4))
      .withColumn("exact_jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      // error from the ROUNDED columns (identical expression tree in the
      // oracle — re-rounding raw values could land on a different grid cell)
      .withColumn("abs_err", floorRound(abs(col("est_jac") - col("exact_jac")), 4))
      .select("id_a", "id_b", "est_jac", "exact_jac", "abs_err")
      .orderBy("id_a", "id_b")
  }

  /** Greedy "keep first occurrence" policy over any (id_a < id_b) pair set:
    * a row survives iff it is not the higher-id member of any pair. Shared by
    * the exact (q44) and LSH (q45) corpus-dedup paths so the policy cannot
    * drift between them.
    */
  def keepFirst(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    df.join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")

  /** The corpus-level dedup a training pipeline actually applies: drop every
    * document that near-duplicates an earlier (lower-id) one.
    */
  def dropNearDuplicates(df: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int, numHashes: Int, bands: Int,
                         threshold: Double): DataFrame =
    keepFirst(df, idCol,
      minhashLshPairs(df, idCol, textCol, shingleSize, numHashes, bands, threshold))

  /** MULTI-DETECTOR VERDICT FUSION (r12 verdict task 3) — the DECISION layer
    * a curation run executes when its duplicate detectors disagree: one row
    * per document with an evidence flag per axis and ONE final verdict under
    * a documented precedence. The library has had the detectors for rounds
    * (exact text hash, banded-MinHash Jaccard, Broder containment, SimHash);
    * what a pipeline actually ships is their COMPOSITION — a doc flagged by
    * any axis is dropped, and `reason` records the strongest axis that fired
    * so the attrition report can attribute drops.
    *
    * Precedence (strongest evidence first, the order a reviewer would trust):
    * `exact` (byte-identical text) > `containment` (verbatim embedding of
    * the shorter doc) > `jaccard` (symmetric shingle resemblance) >
    * `simhash` (bit-signature proximity — the weakest, collision-prone
    * axis). Every axis applies keep-first policy: the flag marks the
    * HIGHER-id member ([[keepFirst]]), so fusing axes can never drop both
    * members of a pair that only one axis sees.
    *
    * Scale shape: ONE shingle/signature pass feeds BOTH set-similarity axes
    * (the banded candidates are computed once and verified twice — Jaccard
    * and containment differ only in the denominator), SimHash is its own
    * map-only hash + band join, exact is one hash aggregate. All candidate
    * generation is band equi-joins; the fusion itself is four slim
    * (id, flag) left-joins onto the doc spine — nothing quadratic, nothing
    * driver-side.
    *
    * Output: (id, f_exact, f_containment, f_jaccard, f_simhash, drop_doc,
    * reason), one row per input document, ordered by id.
    */
  def verdictFusion(df: DataFrame, idCol: String, textCol: String,
                    shingleSize: Int, numHashes: Int, bands: Int,
                    jacThreshold: Double, containThreshold: Double,
                    maxHamming: Int): DataFrame = {
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching); the doc spine and three detector subtrees re-read the slim
    // (id, text) projection
    val base = df.select(col(idCol), col(textCol)).cache()
    fuseVerdicts(base, idCol, textAxisLosers(base, idCol, textCol,
      shingleSize, numHashes, bands, jacThreshold, containThreshold, maxHamming))
  }

  /** The four text-detector loser relations in precedence order — each a
    * slim (id, f_axis=1) frame flagging the HIGHER-id member of every pair
    * that axis sees ([[keepFirst]] policy). Shared by [[verdictFusion]],
    * [[crossModalVerdict]] and the q217 full-stack composition so the text
    * axes cannot drift between them.
    */
  private[graft] def textAxisLosers(base: DataFrame, idCol: String, textCol: String,
                                    shingleSize: Int, numHashes: Int, bands: Int,
                                    jacThreshold: Double, containThreshold: Double,
                                    maxHamming: Int): Seq[(String, DataFrame)] = {
    // EXACT-GROUP COLLAPSE (the 100 TB dedup posture, same lesson as
    // Multimodal.mediaDupLosers): candidate generation runs over ONE min-id
    // representative per distinct text. Identical texts share every band
    // key, so inside an exact-dup group the banded self-joins materialize
    // O(k²) pairs that keep-first then throws away — and dup-group size
    // GROWS with a crawl corpus, making every pair-materializing axis
    // quadratic exactly where the engine claims scale. Collapse is
    // output-identical: a non-rep exact dup is ALWAYS a near-dup loser to
    // its own rep (identical signature ⇒ guaranteed banded candidate;
    // similarity 1.0 / hamming 0 passes any valid threshold), except where
    // the axis's own domain filter excludes the text entirely (an empty
    // shingle set never enters the LSH banding) — the dup union below
    // mirrors those filters verbatim. Rep flags are unchanged: any non-rep
    // y < r that would flag r has a rep r' ≤ y with the same signature, so
    // the rep-only candidate (r', r) fires identically. Pinned by property
    // test incl. empty-text/degenerate docs.
    require(jacThreshold > 0 && jacThreshold <= 1.0 &&
      containThreshold > 0 && containThreshold <= 1.0 && maxHamming >= 0,
      s"thresholds must be in (0, 1] and maxHamming >= 0 for the dup-inheritance " +
        s"rule, got jac=$jacThreshold contain=$containThreshold hamming=$maxHamming")
    val reps = exactDedup(base, idCol, textCol)
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching); three dup-union branches re-read the non-rep (id, text) rows
    val dupRows = base
      .join(reps.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(idCol), col(textCol))
      .cache()
    val exactLosers = dupRows.select(col(idCol)).withColumn("f_exact", lit(1L))
    // non-empty shingle set — the exact filter withShinglesPoly applies
    val dupShingled = dupRows
      .filter(size(shingleHashesPoly(col(textCol), shingleSize)) > 0)
      .select(col(idCol))
    val dupAll = dupRows.select(col(idCol))
    def plusDups(pairs: DataFrame, dups: DataFrame, flag: String): DataFrame =
      pairs.select(col("id_b").as(idCol))
        .unionByName(dups).distinct().withColumn(flag, lit(1L))
    // one candidate relation over the reps, two verifiers (Jaccard +
    // containment)
    val cand = lshCandidatesWithSets(reps, idCol, textCol,
      shingleSize, numHashes, bands)
    import graft.functions.expressions.SortedIntersectionCount
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val inter = B.column(SortedIntersectionCount(
      B.expression(col("hs_a")), B.expression(col("hs_b")))).cast("double")
    val scored = cand
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .withColumn("containment", floorRound(
        inter / least(size(col("hs_a")), size(col("hs_b"))).cast("double"), 4))
      .select("id_a", "id_b", "jac", "containment")
      .cache() // read by two loser branches below; released with the plan
    Seq(
      "exact" -> exactLosers,
      "containment" -> plusDups(
        scored.filter(col("containment") >= containThreshold), dupShingled, "f_containment"),
      "jaccard" -> plusDups(
        scored.filter(col("jac") >= jacThreshold), dupShingled, "f_jaccard"),
      "simhash" -> plusDups(
        simhashPairs(reps, idCol, textCol, maxHamming), dupAll, "f_simhash"))
  }

  /** Distinct higher-id members of an (id_a < id_b) pair relation, flagged. */
  private[graft] def pairLosers(flagged: DataFrame, idCol: String, flag: String): DataFrame =
    flagged.select(col("id_b").as(idCol)).distinct().withColumn(flag, lit(1L))

  /** The fusion DECISION core: left-join each axis's loser flags onto the doc
    * spine, one drop/keep verdict, `reason` = the first (strongest) axis that
    * fired in the given precedence order. Axis flags join slim (id, 1L)
    * relations — the fusion never shuffles anything wider than an id.
    */
  private[graft] def fuseVerdicts(base: DataFrame, idCol: String,
                                  axes: Seq[(String, DataFrame)]): DataFrame = {
    val flags = axes.map { case (a, _) => s"f_$a" }
    val joined = axes.foldLeft(base.select(col(idCol))) {
      case (acc, (_, losers)) => acc.join(losers, Seq(idCol), "left")
    }.na.fill(0L, flags)
    joined
      .withColumn("drop_doc",
        when(flags.map(col).reduce(_ + _) > 0, 1L).otherwise(0L))
      .withColumn("reason",
        axes.foldLeft(Option.empty[Column]) { case (acc, (a, _)) =>
          Some(acc.fold(when(col(s"f_$a") === 1, a))(_.when(col(s"f_$a") === 1, a)))
        }.get.otherwise("keep"))
      .select((col(idCol) +: flags.map(col)) :+ col("drop_doc") :+ col("reason"): _*)
      .orderBy(idCol)
  }

  /** CROSS-MODALITY VERDICT FUSION (r12 verdict backlog: "fusion × modality")
    * — [[verdictFusion]]'s four text axes plus a SEMANTIC axis computed in
    * EMBEDDING space, on one shared id spine. The design question the
    * backlog flagged was the id space: the embeddings fixture keys on
    * vec_id, the documents on doc_id. Resolution: the semantic axis embeds
    * the SAME document corpus with the deterministic [[graft.pipeline.HashingEmbedder]]
    * (the library's pluggable embed step, q35) — every axis then keys on
    * doc_id, and the whole five-axis verdict is one DuckDB-checkable
    * relation. This is also the production shape: a curation run embeds its
    * own corpus, it does not borrow vectors keyed to some other table.
    *
    * Semantic evidence = RAW bucket-count vectors (integer-valued, exact
    * across engines) bucketed by sign-random-projection LSH
    * ([[AnnIndex.cosineNearDupPairs]] — hamming ≤ 1 multiprobe candidates,
    * exact-cosine verify ≥ `cosThreshold`), keep-first losers like every
    * other axis. Precedence: exact > containment > jaccard > SEMANTIC >
    * simhash — semantic cosine on a feature-hash embedding is bag-of-words
    * evidence (insensitive to token order), weaker than shingle resemblance
    * but measured tighter than the 60-bit SimHash proximity it outranks
    * (τ = 0.95 on the fixture separates the near-dup band, max same-topic
    * mass sits below 0.90).
    *
    * Scale shape: embedding + bucketing are map-side codegen'd kernels; the
    * semantic candidates are bucket equi-joins on a slim (id, bucket)
    * relation with vectors attached AFTER candidate generation (the
    * slim-candidate pattern) — adding the fifth axis adds zero quadratic
    * work and one slim (id, flag) join to the fusion.
    *
    * Output: (id, f_exact, f_containment, f_jaccard, f_semantic, f_simhash,
    * drop_doc, reason), one row per document, ordered by id.
    */
  def crossModalVerdict(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int, numHashes: Int, bands: Int,
                        jacThreshold: Double, containThreshold: Double,
                        maxHamming: Int, embDim: Int, nbits: Int,
                        cosThreshold: Double): DataFrame = {
    // nbits <= 0 = corpus-derived SRP width (see semanticAxisLosers)
    // cache-lifetime: pinned by the returned plan — caller releases (see Caching)
    val base = df.select(col(idCol), col(textCol)).cache()
    val text = textAxisLosers(base, idCol, textCol,
      shingleSize, numHashes, bands, jacThreshold, containThreshold, maxHamming)
    val axes = text.take(3) ++
      Seq(semanticAxisLosers(base, idCol, textCol, embDim, nbits, cosThreshold)) ++
      text.drop(3)
    fuseVerdicts(base, idCol, axes)
  }

  /** The SEMANTIC axis as a composable loser relation: embedRaw → SRP-LSH
    * candidates → exact-cosine ≥ τ → keep-first flags (see
    * [[crossModalVerdict]] for the full rationale).
    *
    * `nbits <= 0` selects the SCALE path: corpus-mean-centered BANDED SRP
    * ([[AnnIndex.cosineNearDupPairsBandedCentered]], 16 bands × an
    * [[AnnIndex.autoBandBits]]-derived width over the DISTINCT-text
    * representative count — the relation actually bucketed). The r15 fixed
    * nbits=16 single-table probe had two scale defects, both measured this
    * round: chance-collision mass n²/2¹⁶ past ~10⁶ distinct docs (the r15
    * residual), and — worse — bucket-count embeddings share the corpus
    * token profile, putting UNRELATED docs at raw cosine ≈ 0.6 where a
    * sign-projection table passes ~20% of all pairs regardless of width
    * (2.2 GiB shuffle at 10× sf0.1 distinct-growth). Centering moves the
    * unrelated mass to cosine ≈ 0.09 while true ≥ τ pairs keep ≥ 0.78, and
    * banding makes chance candidates ≈ bands·16·n/2 — linear. The exact
    * RAW-cosine ≥ τ verify is unchanged, so centering shifts recall, never
    * the qualifying predicate; τ = 0.95 still sits in the measured density
    * gap (pair density drops ~47× crossing it at sf0.1). `nbits > 0` pins
    * the legacy single-table probe (unit-test/back-compat path).
    */
  private[graft] def semanticAxisLosers(base: DataFrame, idCol: String, textCol: String,
                                        embDim: Int, nbits: Int,
                                        cosThreshold: Double): (String, DataFrame) = {
    import graft.functions.VectorFunctions.l2NormSq
    require(cosThreshold > 0 && cosThreshold <= 1.0,
      s"cosThreshold must be in (0, 1] for the dup-inheritance rule, got $cosThreshold")
    val emb = graft.pipeline.HashingEmbedder(embDim)
    // exact-group collapse (see textAxisLosers): embed only one min-id rep
    // per distinct text; a non-rep exact dup shares its rep's vector — SRP
    // bucket identical, cosine exactly 1.0 after rounding — so it is a
    // semantic loser by construction UNLESS the vector is zero-norm (the
    // cosine is NaN there and the pair generators never flag it — mirrored
    // by the norm filter on the dup union)
    val reps = exactDedup(base, idCol, textCol)
    val repVecs = reps.select(col(idCol), emb.embedRaw(col(textCol)).as("__v"))
    val semPairs =
      if (nbits > 0)
        AnnIndex.cosineNearDupPairs(repVecs, idCol, "__v",
          threshold = cosThreshold, nbits = nbits, dim = embDim)
      else
        AnnIndex.cosineNearDupPairsBandedCentered(repVecs, idCol, "__v",
          threshold = cosThreshold,
          rbits = AnnIndex.autoBandBits(reps.count()), bands = SemBands,
          dim = embDim)
    val dupNonzero = base
      .join(reps.select(col(idCol)), Seq(idCol), "left_anti")
      .filter(l2NormSq(emb.embedRaw(col(textCol))) > 0.0)
      .select(col(idCol))
    "semantic" -> semPairs.select(col("id_b").as(idCol))
      .unionByName(dupNonzero).distinct().withColumn("f_semantic", lit(1L))
  }

  /** Band count of the semantic axis's banded-SRP scale path (OR-side of
    * the AND-OR amplification; the AND-side width is corpus-derived).
    */
  val SemBands = 16

  /** CELL-SCOPED semantic near-dup flags — the MULTI-DOMAIN scale path
    * (SemDeDup's cluster-then-compare composition over this engine's
    * banded-SRP machinery; see
    * [[AnnIndex.cosineNearDupPairsCellBanded]] for the geometry and the
    * measured fixture evidence). Shape: distinct-text reps → Lloyd-trained
    * cells (k lowest-id init, one step — [[AnnIndex.kmeansCentroids]]) →
    * per-CELL floored-mean centering → banded candidates within cell →
    * exact RAW-cosine ≥ τ verify → keep-first losers, with non-rep exact
    * dups inheriting the flag (the [[semanticAxisLosers]] rule). Output:
    * one row per doc, (idCol, f_semantic), ordered.
    *
    * Scale: training collects k×dim parameters; assignment is k fused dot
    * products per rep, map-side; cell means are one GROUP BY relation
    * (never a literal); candidates are a (cell, band, bucket) equi-join.
    * At 100 TB, k scales with the corpus's domain count, not its rows.
    *
    * Init sensitivity (measured, PERF_r17 §2): the lowest-id Lloyd init
    * seeds every centroid from the id-range head — if new domains arrive
    * at HIGHER ids (a growing crawl), one step cannot redistribute, unseen
    * domains collapse into few cells, and within-cell candidates inflate
    * (8.7 GiB spill at 10 disjoint domains on the remap fixture). When
    * the domain is a DATA COLUMN, prefer [[semanticPartitionDedupFlags]] /
    * [[crossModalVerdictPartitioned]] (exact per-domain centering, no
    * training — near-linear, zero spill on the same fixture); otherwise
    * scale k with the expected domain count and stratify the init across
    * the id range.
    */
  /** PARTITION-SCOPED semantic near-dup flags — [[semanticCellDedupFlags]]
    * with the cells given by a DATA column (language, source, crawl
    * segment) instead of trained: the shape production curation actually
    * runs ("dedup within language"), and the strongest multi-domain
    * decorrelation available because the partition IS the domain — the
    * per-partition floored mean removes each domain's profile exactly.
    * Candidates never cross partitions by construction (the deliberate,
    * documented contract: cross-language near-dups are a different
    * operator's job). The partition rides the exact-dup collapse too: reps
    * are per (partition, text) — the same text in two partitions is two
    * reps, each judged within its own domain.
    */
  def semanticPartitionDedupFlags(base: DataFrame, idCol: String, textCol: String,
                                  partCol: String, embDim: Int,
                                  cosThreshold: Double): DataFrame = {
    val (_, losers) = semanticPartitionAxisLosers(base, idCol, textCol, partCol,
      embDim, cosThreshold)
    base.select(col(idCol))
      .join(losers, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("f_semantic"), lit(0L)).as("f_semantic"))
      .orderBy(idCol)
  }

  /** The partition-scoped semantic axis as a composable LOSER relation —
    * [[semanticPartitionDedupFlags]]' core, factored so the multi-domain
    * verdict stack ([[crossModalVerdictPartitioned]]) and the standalone
    * flag query (q244) share one construction by reference.
    */
  private[graft] def semanticPartitionAxisLosers(base: DataFrame, idCol: String,
                                                 textCol: String, partCol: String,
                                                 embDim: Int,
                                                 cosThreshold: Double): (String, DataFrame) = {
    import graft.functions.VectorFunctions.l2NormSq
    require(cosThreshold > 0 && cosThreshold <= 1.0,
      s"cosThreshold must be in (0, 1], got $cosThreshold")
    val emb = graft.pipeline.HashingEmbedder(embDim)
    // collapse per (partition, text): min-id rep within its partition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(partCol), md5(col(textCol))).orderBy(col(idCol))
    val reps = base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching); the width count and the pair verify read the embedded reps
    val assigned = reps.select(col(idCol), col(partCol).as("__cell"),
      emb.embedRaw(col(textCol)).as("__v")).cache()
    val rbits = AnnIndex.autoBandBits(assigned.count())
    val pairs = AnnIndex.cosineNearDupPairsCellBanded(assigned, idCol, "__v",
      "__cell", threshold = cosThreshold, rbits = rbits, bands = SemBands)
    val dupNonzero = base
      .join(reps.select(col(idCol)), Seq(idCol), "left_anti")
      .filter(l2NormSq(emb.embedRaw(col(textCol))) > 0.0)
      .select(col(idCol))
    "semantic" -> pairs.select(col("id_b").as(idCol))
      .unionByName(dupNonzero).distinct().withColumn("f_semantic", lit(1L))
  }

  /** MULTI-DOMAIN cross-modal verdict — [[crossModalVerdict]] with the
    * semantic axis PARTITION-SCOPED (r16 verdict task 4): the global
    * corpus-mean centering that axis uses is exactly what q243/q244 proved
    * insufficient on disjoint-vocabulary domains (each domain keeps its
    * token profile after global centering, so within-domain candidates
    * grow super-linearly), so here the axis runs [[semanticPartitionAxisLosers]]
    * — per-(partition, text) rep collapse, per-PARTITION floored-mean
    * centering, banded candidates within the partition. The four text axes
    * stay GLOBAL (an exact/shingle duplicate across domains is still a
    * duplicate — only the embedding geometry is domain-relative), and the
    * precedence is [[crossModalVerdict]]'s: exact > containment > jaccard >
    * semantic > simhash.
    */
  def crossModalVerdictPartitioned(df: DataFrame, idCol: String, textCol: String,
                                   partCol: String, shingleSize: Int,
                                   numHashes: Int, bands: Int,
                                   jacThreshold: Double, containThreshold: Double,
                                   maxHamming: Int, embDim: Int,
                                   cosThreshold: Double): DataFrame = {
    // cache-lifetime: pinned by the returned plan — caller releases (see Caching)
    val base = df.select(col(idCol), col(textCol), col(partCol)).cache()
    val text = textAxisLosers(base, idCol, textCol,
      shingleSize, numHashes, bands, jacThreshold, containThreshold, maxHamming)
    val axes = text.take(3) ++
      Seq(semanticPartitionAxisLosers(base, idCol, textCol, partCol, embDim, cosThreshold)) ++
      text.drop(3)
    fuseVerdicts(base, idCol, axes)
  }

  /** k AUTO-SCALING for [[semanticCellDedupFlags]] (r17 verdict item 5 —
    * q258's stated remaining knob): the trained-cell pathology PERF_r16
    * quantified is k under-provisioned relative to the corpus's DOMAIN
    * count (10 disjoint domains into k=16 global cells → one cell holds a
    * whole domain → quadratic within-cell candidates). Rather than
    * hand-picking k per corpus, size it from the data: k = 2 × the domain
    * count, estimated from a domain-proxy column (source, language, crawl
    * segment). The 2× headroom covers domains that split internally; the
    * estimate is one `count(DISTINCT domainCol)` — map-side partial
    * aggregation, shuffling only the distinct values, cheap at any corpus
    * size (for an unbounded-cardinality proxy swap in the KMV estimator,
    * [[Sketches]]). Deterministic, so the DuckDB oracle computes the same
    * k from the same column and the hash check stays exact.
    */
  def autoCellK(base: DataFrame, domainCol: String): Int = {
    val n = base.agg(countDistinct(col(domainCol))).head().getLong(0)
    math.max(1L, 2L * n).toInt
  }

  def semanticCellDedupFlags(base: DataFrame, idCol: String, textCol: String,
                             embDim: Int, k: Int,
                             cosThreshold: Double,
                             stratifiedInit: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, dot, l2NormSq}
    require(k > 0, s"k must be positive, got $k")
    require(cosThreshold > 0 && cosThreshold <= 1.0,
      s"cosThreshold must be in (0, 1], got $cosThreshold")
    val emb = graft.pipeline.HashingEmbedder(embDim)
    val reps = exactDedup(base, idCol, textCol)
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching); kmeans training, the width count, assignment, and the pair
    // verify all read the embedded reps
    val repVecs = reps.select(col(idCol), emb.embedRaw(col(textCol)).as("__v")).cache()
    // stratifiedInit: seed the Lloyd init by CONTENT-HASH order instead of
    // the id-range head — lowest-id init collapses domains that arrive at
    // higher ids (a growing crawl's new languages/sources): every seed
    // lands in the oldest domain and one step cannot redistribute
    // (PERF_r17 §2: 8.7 GiB spill at 10 unseen domains). Hash order is
    // arrival-order-free, so the k seeds spread uniformly over the corpus
    // content no matter when each domain arrived.
    val cents =
      if (!stratifiedInit) AnnIndex.kmeansCentroids(repVecs, "__v", idCol, k, iters = 1)
      else {
        val init = reps.select(emb.embedRaw(col(textCol)).as("__v"),
            expr(graft.operators.Export.hex4ValSql(s"md5($textCol)")).cast("long").as("__h"),
            col(idCol))
          .orderBy(col("__h"), col(idCol)).limit(k)
          .select(asDouble(col("__v")))
          .collect().map(_.getSeq[Double](0)) // k rows — parameters
        AnnIndex.kmeansIterate(repVecs, "__v", init, iters = 1)
      }
    // argmin(|c|² − 2·v·c), tie → lower index — the semDeDup/ivfTopK
    // convention. Centroids arrive as a BROADCAST RELATION, not k×dim plan
    // literals (r16 verdict item 2: at dim=1536 the literal form recreates
    // the plan-size defect SrpBandBuckets fixed) — min(struct(d, i)) over
    // the k joined rows is the same lexicographic argmin as array_min over
    // a struct array, and dot on the joined centroid column runs the
    // identical fused kernel on the identical doubles, so assignments (and
    // the q243 hash) are unchanged.
    val sess = repVecs.sparkSession
    import sess.implicits._
    val centRel = broadcast(cents.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c, c.map(x => x * x).sum) }
      .toDF("__ci", "__cv", "__c2"))
    val assignedIds = repVecs.crossJoin(centRel)
      .select(col(idCol), struct(
        (col("__c2") - lit(2.0) * dot(col("__v"), col("__cv"))).as("d"),
        col("__ci").as("i")).as("__s"))
      .groupBy(col(idCol)).agg(min(col("__s")).as("__m"))
      .select(col(idCol), col("__m.i").as("__cell"))
    val assigned = repVecs.join(assignedIds, Seq(idCol))
    val rbits = AnnIndex.autoBandBits(repVecs.count())
    val pairs = AnnIndex.cosineNearDupPairsCellBanded(assigned, idCol, "__v",
      "__cell", threshold = cosThreshold, rbits = rbits, bands = SemBands)
    val dupNonzero = base
      .join(reps.select(col(idCol)), Seq(idCol), "left_anti")
      .filter(l2NormSq(emb.embedRaw(col(textCol))) > 0.0)
      .select(col(idCol))
    val losers = pairs.select(col("id_b").as(idCol))
      .unionByName(dupNonzero).distinct().withColumn("__f", lit(1L))
    base.select(col(idCol))
      .join(losers, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__f"), lit(0L)).as("f_semantic"))
      .orderBy(idCol)
  }

  /** Per-detector attrition over a [[verdictFusion]] verdict relation — the
    * funnel a curation run publishes: for each axis the flagged count, the
    * ATTRIBUTED count (docs whose precedence-first reason is that axis —
    * attributed counts sum to total drops, flagged counts overlap), and the
    * running survivor count as axes apply in precedence order. Pure
    * aggregation over the verdict rows; parameter-sized output.
    */
  def verdictFunnel(verdicts: DataFrame, idCol: String,
                    axes: Seq[String] = Seq.empty): DataFrame = {
    // Axes default to the relation's OWN f_* columns in schema order (the
    // fusion functions emit them in precedence order), so a funnel over a
    // cross-modal or full-stack verdict can never silently drop an axis
    // (ADVICE r13 item 4). An explicit list must cover every f_* column —
    // a partial funnel's survivor counts would be wrong, not approximate.
    val present = verdicts.schema.fieldNames.toSeq
      .filter(_.startsWith("f_")).map(_.stripPrefix("f_"))
    val resolved = if (axes.isEmpty) present else axes
    require(resolved.nonEmpty, "verdictFunnel: no f_* axis columns in the verdict relation")
    require(resolved.distinct == resolved,
      s"verdictFunnel: axes must be distinct, got ${resolved.mkString(",")}")
    require(resolved.toSet == present.toSet,
      s"verdictFunnel: axes ${resolved.mkString(",")} must cover exactly the " +
        s"relation's flag columns ${present.mkString(",")}")
    verdictFunnelOf(verdicts, idCol, resolved)
  }

  private def verdictFunnelOf(verdicts: DataFrame, idCol: String,
                              axes: Seq[String]): DataFrame = {
    // localCheckpoint, not cache() (guide §3.3/§5 — truncate the plan, not
    // just the execution): with cache(), every one of the six aggregate
    // branches below still CARRIES the full fusion chain as its logical
    // subtree — analysis, cache-lookup canonicalization and optimization
    // walk the multi-thousand-node verdict plan once per branch, measured
    // as a 0.5 s zero-job driver gap before q205's first job. The eager
    // localCheckpoint materializes the (deterministic, corpus-row-sized)
    // verdict relation once and replaces all six subtrees with one
    // LogicalRDD leaf; block lifetime follows the RDD (ContextCleaner),
    // the same session-scratch tier as the cache it replaces.
    val cached = verdicts.localCheckpoint()
    val total = cached.agg(count(lit(1)).as("__n"))
    val perAxis = axes.zipWithIndex.map { case (axis, i) =>
      cached.agg(
        lit(i.toLong).as("axis_idx"), lit(axis).as("axis"),
        sum(col(s"f_$axis")).cast("long").as("n_flagged"),
        sum(when(col("reason") === axis, 1L).otherwise(0L)).cast("long").as("n_attributed"),
        // survivors after axes 0..i applied in precedence order
        sum(when(col("reason").isin(axes.take(i + 1): _*), 0L)
          .otherwise(1L)).cast("long").as("n_surviving"))
    }.reduce(_ unionByName _)
    perAxis.crossJoin(broadcast(total))
      .select(col("axis_idx"), col("axis"), col("n_flagged"), col("n_attributed"),
        col("n_surviving"), col("__n").as("n_docs"))
      .orderBy("axis_idx")
  }

  /** PAIRWISE DETECTOR AGREEMENT over a verdict relation — Cohen's kappa
    * (Cohen 1960) between every pair of duplicate detectors, treating each
    * axis's flag column as a binary rater over the document spine. The
    * report a curation team reads next to the attrition funnel: a pair with
    * kappa ≈ 1 is redundant (drop the expensive one), kappa ≈ 0 means the
    * axes see genuinely different duplication phenomena (both earn their
    * cost). Complements [[verdictFunnel]], which shows precedence-ordered
    * attribution but not inter-detector structure.
    *
    * Numerics: all intermediate statistics stay INTEGER — with per-axis
    * flag sums s_a, s_b, co-flag sum s_ab and doc count n,
    * observed-agreement numerator po_num = n − s_a − s_b + 2·s_ab (over n)
    * and chance-agreement numerator pe_num = s_a·s_b + (n−s_a)·(n−s_b)
    * (over n²), so kappa = (po_num·n − pe_num) / (n² − pe_num) is ONE
    * division of exact integers — bit-identical across engines, no float
    * accumulation anywhere. Products (s_a·s_b, n², po_num·n) are carried as
    * DecimalType(38,0) — still exact integers, but safe for any long n where
    * a 64-bit long would wrap past n ≈ 3.0e9 docs. Kappa is NULL when
    * n² = pe_num (both raters
    * constant — chance agreement is total and the statistic is undefined).
    *
    * Scale shape: one hash aggregate over the verdict relation produces
    * every pairwise count map-side-combined; the pair report is built from
    * that single broadcast row — parameter-sized, nothing re-scans the
    * corpus.
    */
  def detectorAgreement(verdicts: DataFrame, axes: Seq[String],
                        roundTo: Int = 4): DataFrame = {
    require(axes.size >= 2, "detectorAgreement needs at least two axes")
    val pairs = for {
      i <- axes.indices; j <- (i + 1) until axes.size
    } yield (axes(i), axes(j))
    val aggs =
      count(lit(1)).as("n") +:
        (axes.map(a => sum(col(s"f_$a")).as(s"s_$a")) ++
          pairs.map { case (a, b) =>
            sum(col(s"f_$a") * col(s"f_$b")).as(s"s_${a}_$b") })
    // cache-lifetime: pinned by the returned plan — caller releases (see
    // Caching); one row, read once per pair branch
    val tot = verdicts.agg(aggs.head, aggs.tail: _*).cache()
    // products go through DecimalType(38,0): s_a·s_b and n² silently WRAP in
    // long arithmetic past n ≈ 3.0e9 docs (ADVICE r13 item 3) — exactly the
    // scale this report advertises. Every term here is ≤ n² < 8.5e37 for any
    // long n (po_num = #neither + #both ≤ n), so (38,0) is lossless and the
    // "integer-exact, no overflow" contract in the Scaladoc holds verbatim.
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    pairs.map { case (a, b) =>
      tot.select(
        lit(a).as("axis_a"), lit(b).as("axis_b"),
        col(s"s_$a").as("n_a"), col(s"s_$b").as("n_b"),
        col(s"s_${a}_$b").as("n_both"),
        (col("n") - col(s"s_$a") - col(s"s_$b") + lit(2L) * col(s"s_${a}_$b")).as("__po_num"),
        (col(s"s_$a").cast(dec) * col(s"s_$b") +
          (col("n") - col(s"s_$a")).cast(dec) * (col("n") - col(s"s_$b"))).as("__pe_num"),
        col("n").as("__n"))
    }.reduce(_ unionByName _)
      .withColumn("__n2", col("__n").cast(dec) * col("__n"))
      .withColumn("po", floorRound(col("__po_num").cast("double") / col("__n").cast("double"), roundTo))
      .withColumn("pe", floorRound(col("__pe_num").cast("double") / col("__n2").cast("double"), roundTo))
      .withColumn("kappa",
        when(col("__n2") === col("__pe_num"), lit(null).cast("double"))
          .otherwise(floorRound(
            (col("__po_num").cast(dec) * col("__n") - col("__pe_num")).cast("double") /
              (col("__n2") - col("__pe_num")).cast("double"), roundTo)))
      .select("axis_a", "axis_b", "n_a", "n_b", "n_both", "po", "pe", "kappa")
      .orderBy("axis_a", "axis_b")
  }

  /** Incremental near-dup dedup: which DELTA documents survive against an
    * existing corpus? A delta doc is dropped when it near-duplicates (MinHash
    * band collision + exact-Jaccard ≥ threshold) ANY corpus doc — the corpus
    * always wins, regardless of id order — or an earlier (lower-id) delta
    * doc. This is the ingestion-time path at 100 TB: the standing corpus is
    * NOT re-deduped (its band keys are a precomputable index; here they are
    * derived inline), and candidate generation only ever joins delta band
    * keys against it — cost scales with the delta, not the corpus.
    */
  def dedupDeltaAgainstCorpus(corpus: DataFrame, delta: DataFrame, idCol: String,
                              textCol: String, shingleSize: Int, numHashes: Int,
                              bands: Int, threshold: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // the exact-group collapse below relies on identical sets passing the
    // verify (jac 1.0 ≥ threshold) — enforce the sane domain explicitly
    require(threshold > 0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val rows = numHashes / bands
    val tagged = corpus.select(col(idCol), col(textCol)).withColumn("__is_delta", lit(false))
      .unionByName(delta.select(col(idCol), col(textCol)).withColumn("__is_delta", lit(true)))
    // EXACT-GROUP COLLAPSE at shingle-SET granularity (see textAxisLosers):
    // docs with the same sorted shingle-hash set are mutual Jaccard-1.0
    // matches, so banding runs over ONE representative per distinct set —
    // chosen corpus-first then min id (corpus always outranks delta in the
    // drop rule), via a lexicographic struct min. A non-rep DELTA doc drops
    // unconditionally: its rep precedes it in drop priority at Jaccard 1.0.
    // Docs with EMPTY shingle sets never enter banding (unchanged): they
    // are never dropped. Identical-set groups grow with a crawl corpus;
    // the rep relation does not.
    val allSets = tagged
      .select(col(idCol), col("__is_delta"), shingleHashesPoly(col(textCol), shingleSize).as("hs"))
      .filter(size(col("hs")) > 0)
    val reps = allSets
      .groupBy("hs").agg(min(struct(col("__is_delta"), col(idCol))).as("__rep"))
      .select(col("hs"), col("__rep.__is_delta").as("__is_delta"),
        col(s"__rep.$idCol").as(idCol))
    val droppedNonRep = allSets.filter(col("__is_delta"))
      .join(reps.select(col("hs"), col(idCol).as("__rep_id")), Seq("hs"))
      .filter(col(idCol) =!= col("__rep_id"))
      .select(col(idCol))
    val sig = reps
      .withColumn("sig", minhashSignaturePoly(col("hs"), numHashes))
      .cache() // banded twice (probe + index side) and re-joined for verify
    val banded = sig
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_key", bandKey(col("sig"), col("band"), rows))
      .select(col(idCol), col("__is_delta"), col("band"), col("band_key"))
    val probe = banded.filter(col("__is_delta"))
      .select(col(idCol).as("id_b"), col("band"), col("band_key"))
    val index = banded
      .select(col(idCol).as("id_a"), col("__is_delta").as("__delta_a"), col("band"), col("band_key"))
    val cand = probe.join(index, Seq("band", "band_key"))
      .filter(col("id_a") =!= col("id_b") &&
        (!col("__delta_a") || col("id_a") < col("id_b")))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val dropped = cand
      .join(sig.select(col(idCol).as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sig.select(col(idCol).as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .withColumn("jac", floorRound(jaccardSorted(col("hs_a"), col("hs_b")), 4))
      .filter(col("jac") >= threshold)
      .select(col("id_b").as(idCol))
      .unionByName(droppedNonRep)
      .distinct()
    delta.join(dropped, Seq(idCol), "left_anti")
  }

  /** Near-dup clusters via iterative min-label propagation over the pair
    * graph (connected components). Each iteration joins the current labels
    * across edges and takes the min — converges in O(diameter) rounds;
    * `maxIter` bounds runaway graphs. Returns (id, cluster) where cluster is
    * the minimum member id of the component.
    *
    * Scale hygiene: each iteration would otherwise stack a join+aggregate on
    * the previous plan, so lineage (and planning time) grows per round —
    * `localCheckpoint()` every `checkpointEvery` rounds truncates it, and the
    * convergence probe is a lazy `isEmpty` on the changed-label diff (stops
    * at the first changed row instead of counting them). Checkpointed
    * generations are never unpersisted (their lineage is gone — the blocks
    * ARE the data; the ContextCleaner reclaims them once unreferenced);
    * cached generations are unpersisted as soon as the next one lands.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 10, checkpointEvery: Int = 3): DataFrame = {
    // undirected edge list (both directions) from (id_a, id_b) pairs;
    // checkpointing here also truncates the (potentially deep) upstream LSH
    // plan so every iteration replans against a leaf, not the whole pipeline.
    // The pair plan is cached first: the union reads it through TWO branches,
    // which would otherwise execute the (expensive) pair generation twice
    val p = pairs.select(col("id_a"), col("id_b")).cache()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().localCheckpoint()
    p.unpersist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
    // the cached/checkpointed generation BACKING `labels` (labels itself is a
    // projection over it, so unpersist must target this handle)
    var backing: DataFrame = null
    var labelsCheckpointed = false
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("cluster"), lit(0).as("__self"))
      // change detection fused into the propagation aggregate: the __self tag
      // recovers each node's previous label inside the same groupBy, so
      // convergence needs no second join — just a scan of the materialized
      // result (min(cluster) < previous ⇔ some label improved this round)
      val propagated = labels.withColumn("__self", lit(1)).union(viaNeighbor)
        .groupBy("id").agg(min("cluster").as("cluster"),
          min(when(col("__self") === 1, col("cluster"))).as("__old"))
      val checkpointNow = (iter + 1) % checkpointEvery == 0
      val next = if (checkpointNow) propagated.localCheckpoint() else propagated.cache()
      converged = next.filter(col("cluster") < col("__old")).isEmpty
      if (backing != null && !labelsCheckpointed) backing.unpersist()
      backing = next
      labels = next.select("id", "cluster")
      labelsCheckpointed = checkpointNow
      iter += 1
    }
    // Min-label propagation needs ~diameter rounds; exiting via maxIter means
    // the LAST iteration still improved a label, so convergence was never
    // confirmed (the final round may or may not have been the last one
    // needed) — loudly visible, not a silently-wrong result (ADVICE r3).
    if (!converged)
      org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup").warn(
        s"clusters() hit maxIter=$maxIter with labels still changing — " +
          "convergence unconfirmed, components may carry partially propagated " +
          "labels; raise maxIter above the pair-graph diameter")
    labels
  }

  /** Representative selection per near-dup cluster: keep the member that
    * maximizes `weightCol` (ties → minimum id) — the canonicalization step
    * after clustering, where one document survives per duplicate group and
    * the rest map to it. The choice rule is integer-deterministic, so the
    * representative is reproducible across engines and runs.
    *
    * Plan shape: clusters are (id, cluster) pairs; one join attaches the
    * weight, one window per cluster ranks members. Cluster cardinality is
    * bounded by the near-dup group sizes (small by construction), so the
    * window partitions are never skewed at scale.
    */
  def clusterRepresentatives(clusterLabels: DataFrame, docs: DataFrame,
                             idCol: String, weightCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = clusterLabels
      .join(docs.select(col(idCol).as("id"), col(weightCol).as("__w")), Seq("id"))
    val w = Window.partitionBy("cluster").orderBy(desc("__w"), col("id"))
    j.withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("id").as("rep_id"),
        col("__w").as("rep_weight"), col("n_members"))
      .orderBy("cluster")
  }

  /** SimHash near-dup pairs within `maxHamming` bits, candidates via 4×15-bit
    * band buckets over the 60-bit poly SimHash.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, salts: Int = 1): DataFrame = {
    // cache-lifetime: pinned by the returned plan — caller releases (see Caching)
    val sh = df.select(col(idCol), simhashPoly(col(textCol)).as("sim")).cache()
    val banded = sh
      .withColumn("band", explode(sequence(lit(0), lit(3))))
      .withColumn("chunk", expr("shiftright(sim, band*15) & 32767"))
    val l = banded.select(col(idCol).as("id_a"), col("sim").as("sim_a"), col("band"), col("chunk"))
    val r = banded.select(col(idCol).as("id_b"), col("sim").as("sim_b"), col("band"), col("chunk"))
    // salts > 1: spread a hot band bucket's O(k²) pair work over `salts`
    // tasks ([[Salting.saltedSelfJoin]]) — identical output, bounded tasks
    Salting.saltedSelfJoin(l, r, Seq("band", "chunk"), "id_b", salts)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sim_a", "sim_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sim_a"), col("sim_b")).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
      .orderBy("id_a", "id_b")
  }

  /** Corpus-level similarity matrix: n-gram Jaccard between the distinct
    * shingle SETS of every pair of groups (sources, languages, snapshots) —
    * the cross-corpus overlap report that decides whether two crawl
    * snapshots, data vendors, or pipeline branches are near-copies before
    * any training mix is weighted.
    *
    * Scale shape: shingling is map-only; the distinct (group, shingle) set is
    * one hash shuffle bounded by distinct-shingle cardinality, and the pair
    * intersection is an equi-join on the shingle key (co-partitioned with
    * that shuffle) — never a doc×doc or group×group-materialized comparison.
    * Output is G·(G−1)/2 rows for G groups.
    */
  def corpusSimilarity(df: DataFrame, textCol: String, groupCol: String,
                       shingleSize: Int, roundTo: Int = 6): DataFrame = {
    val ss = df
      .select(col(groupCol).as("__g"), explode(shingleHashesPoly(col(textCol), shingleSize)).as("__sh"))
      .distinct()
      .cache() // three consumers: group sizes + both sides of the pair join
    val sz = ss.groupBy("__g").agg(count(lit(1)).as("__n"))
    val ix = ss.select(col("__g").as("source_a"), col("__sh"))
      .join(ss.select(col("__g").as("source_b"), col("__sh")), Seq("__sh"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("__common"))
    val pairs = sz.select(col("__g").as("source_a"), col("__n").as("n_a"))
      .crossJoin(sz.select(col("__g").as("source_b"), col("__n").as("n_b")))
      .filter(col("source_a") < col("source_b"))
    pairs.join(ix, Seq("source_a", "source_b"), "left")
      .withColumn("n_common", coalesce(col("__common"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("n_common"),
        floorRound(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), roundTo).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Sub-document exact dedup audit over fixed token windows (Lee et al.,
    * "Deduplicating training data makes language models better", ACL 2022 —
    * their exact-substring dedup, at window rather than suffix-array
    * granularity): chunk every document into non-overlapping `chunkTokens`
    * windows ([[Chunker.chunk]]), keep the globally FIRST occurrence of each
    * distinct window (min (id, chunk_id)), and report per document how many
    * of its windows already occurred earlier — the repeated-boilerplate
    * signal document-level dedup cannot see.
    *
    * Output: (id, n_chunks, n_dup, dup_ratio). Plan shape at 100 TB:
    * chunking is a map-only explode; first-occurrence is ONE shuffle on the
    * window text (bounded by distinct-window cardinality after map-side
    * partial min); the per-doc rollup shuffles slim (id, flag) rows. Window
    * keys could hash to 16 bytes before the shuffle if window text is long.
    */
  def chunkDupStats(df: DataFrame, idCol: String, textCol: String,
                    chunkTokens: Int, roundTo: Int = 4): DataFrame = {
    val chunks = Chunker.chunk(df, idCol, textCol, chunkTokens, overlap = 0)
    val firsts = chunks.groupBy("chunk_text")
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__first"))
    chunks.join(firsts, Seq("chunk_text"))
      .withColumn("__dup",
        (struct(col(idCol), col("chunk_id")) =!= col("__first")).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum("__dup").cast("long").as("n_dup"),
        floorRound(sum("__dup").cast("double") / count(lit(1)).cast("double"), roundTo)
          .as("dup_ratio"))
  }

  /** Exact-substring duplicate spans (the ExactSubstr dedup family of Lee
    * et al., "Deduplicating Training Data Makes Language Models Better",
    * ACL 2022): for each document, the maximal character spans whose every
    * `minLen`-char window also appears verbatim in at least one OTHER
    * document. Output (id, span_start, span_len), 1-based start, one row
    * per maximal span — the spans a pipeline would cut before training.
    *
    * Mechanics: stride-1 windows of length `minLen` (map-only explode) →
    * windows seen in ≥ 2 distinct documents (one hash shuffle on the
    * window) → per-doc adjacent-position runs merged into maximal spans
    * (islands via `pos − row_number`, one keyed window). A shared run of
    * length R ≥ minLen marks positions p..p+R−minLen, merging to exactly
    * [p, p+R). Everything is equi-join/aggregate — no pair enumeration,
    * no cartesian (ScaleSpec plan-asserts).
    *
    * Scale notes: window rows are O(total corpus bytes) — linear, the same
    * tier as a tokenization pass, but with a corpus-sized shuffle; Lee et
    * al.'s suffix-array construction or content-defined anchor sampling
    * (windows only at rolling-hash-selected positions) is the 100 TB path
    * and trades stride-1's exact guarantee for O(bytes/stride) shuffle
    * volume. Production would also hash the 50-byte window to 8 bytes
    * before shuffling (as [[exactDedup]] does md5); the raw window key is
    * kept here so DuckDB oracles can mirror the pipeline string-for-string.
    */
  def exactSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                       minLen: Int): DataFrame = {
    require(minLen >= 2, s"exactSubstrSpans needs minLen >= 2, got $minLen")
    // sequence(1, 0) would step BACKWARDS ([1, 0]) — guard short docs
    val nWin = length(col(textCol)) - (minLen - 1)
    val w = df.select(col(idCol),
        explode(when(nWin >= 1,
            transform(sequence(lit(1), nWin),
              i => struct(i.as("pos"), col(textCol).substr(i, lit(minLen)).as("win"))))
          .otherwise(array().cast("array<struct<pos:int,win:string>>"))).as("pw"))
      .select(col(idCol), col("pw.pos").as("pos"), col("pw.win").as("win"))
    val dupWins = w.groupBy("win")
      .agg(countDistinct(idCol).as("__nd")).filter(col("__nd") >= 2)
      .select("win")
    val marked = w.join(dupWins, Seq("win")).select(col(idCol), col("pos"))
    mergeConsecutivePositions(marked, idCol, minLen)
  }

  /** Fingerprinted exact-substring spans — [[exactSubstrSpans]]' contract
    * (same spans, same output schema) with the corpus-scale key: instead of
    * materializing and shuffling every `minLen`-char window STRING
    * (O(n·minLen) bytes built map-side, ~minLen bytes per position
    * shuffled), each position shuffles a 16-byte pair of independent
    * Rabin–Karp rolling fingerprints ([[graft.functions.expressions.RollingWindowHashes]],
    * one O(n) pass per base, mod 2⁶¹−1). At minLen = 50 that is a ~3.5×
    * shuffle-byte cut and an O(minLen)→O(1) per-position map cost; the
    * collision budget at 10¹⁴ windows is ~2·10⁻⁹ expected colliding pairs
    * (documented in the expression), and the q163 oracle runs q149's
    * string-keyed SQL verbatim, so fingerprint ≡ string is CHECKED on the
    * fixture, not assumed.
    *
    * Why not a distributed suffix array (Lee et al.'s construction): with
    * fixed minLen the SA's duplicated-position set collapses to "windows
    * sharing a minLen-prefix", i.e. exactly this groupBy; a prefix-doubling
    * rank build would pay ⌈log₂ minLen⌉ rounds × (self-join + re-rank)
    * ≈ 18 shuffles of ~24-byte rows (~430 B/position) versus ONE shuffle of
    * 16 B/position here — the SA wins only when maximal-repeat lengths are
    * unbounded, which this operator's contract fixes a priori.
    */
  def fpSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                    minLen: Int): DataFrame = {
    import graft.functions.expressions.RollingWindowHashes
    import org.apache.spark.sql.{GraftSqlBridge => B}
    require(minLen >= 2, s"fpSubstrSpans needs minLen >= 2, got $minLen")
    def roll(base: Long) = B.column(
      RollingWindowHashes(B.expression(col(textCol)), minLen, base))
    val w = df.select(col(idCol),
        posexplode(arrays_zip(roll(1000000007L).as("f1"), roll(998244353L).as("f2"))))
      .select(col(idCol), (col("pos") + 1).as("pos"),
        col("col.f1").as("f1"), col("col.f2").as("f2"))
    val dupWins = w.groupBy("f1", "f2")
      .agg(countDistinct(idCol).as("__nd")).filter(col("__nd") >= 2)
      .select("f1", "f2")
    val marked = w.join(dupWins, Seq("f1", "f2")).select(col(idCol), col("pos"))
    mergeConsecutivePositions(marked, idCol, minLen)
  }

  /** Maximal spans from stride-1 duplicated positions: consecutive-position
    * islands via `pos − row_number`, span [min, max+minLen) — shared by
    * [[exactSubstrSpans]] and [[fpSubstrSpans]].
    */
  private def mergeConsecutivePositions(marked: DataFrame, idCol: String,
                                        minLen: Int): DataFrame = {
    val grp = col("pos") - row_number().over(
      org.apache.spark.sql.expressions.Window.partitionBy(idCol).orderBy("pos"))
    marked.withColumn("__g", grp)
      .groupBy(col(idCol), col("__g"))
      .agg(min("pos").as("__s"), max("pos").as("__e"))
      .select(col(idCol),
        col("__s").cast("long").as("span_start"),
        (col("__e") - col("__s") + minLen).cast("long").as("span_len"))
      .orderBy(idCol, "span_start")
  }

  /** The hash-anchor modulus shared with the DuckDB oracle (same prime as
    * the PolyHash family) and the 8-char anchor fingerprint width.
    */
  private val AnchorP = 1000000007L
  private val AnchorK = 8

  /** The anchor fingerprint (an 8-char polynomial, Σ ascii·31^i mod P —
    * position-INDEPENDENT, so identical content yields identical anchors
    * wherever it sits in a document) lives in the codegen'd rolling kernel
    * [[graft.functions.expressions.AnchorPositions]]; the oracle mirrors it
    * term-for-term in SQL (TextQueries.anchorTermsSql — every sum stays
    * below 2⁶³, no overflow-semantics divergence).
    */

  /** ANCHOR-SAMPLED exact-substring spans — the corpus-scale path whose
    * exact counterpart is [[exactSubstrSpans]] (same contract, same output
    * schema): windows are taken only at CONTENT-DEFINED anchor positions
    * (where the 8-char fingerprint ≡ 0 mod `anchorEvery`), cutting window
    * rows and shuffle volume by ~`anchorEvery`×. Because anchors are
    * content-defined, a run shared verbatim between documents anchors at
    * the SAME content offsets in both — the sampled windows still collide
    * exactly; what is lost is coverage at the run's edges and runs that
    * happen to contain no anchor (expected ≥ 1 anchor per `anchorEvery`
    * positions; a ≥ minLen run at the default 50/8 carries ~6). The q155
    * recall audit measures exactly that coverage against the exact spans.
    *
    * Spans are the union of the surviving windows ([pos, pos+minLen)
    * interval merge via running-max islands), so span bounds are honest —
    * never wider than the evidence.
    */
  def anchorSubstrSpans(df: DataFrame, idCol: String, textCol: String,
                        minLen: Int, anchorEvery: Int): DataFrame =
    spansFromAnchorIndex(
      anchoredWindows(df, idCol, textCol, minLen, anchorEvery), idCol, minLen)

  /** Duplicated spans from a standing anchored-window INDEX (rows `(id,
    * pos, win)`, i.e. [[anchoredWindows]]' output, possibly persisted and
    * incrementally appended): dup windows (≥ 2 distinct docs) → interval
    * merge. Split out so an INCREMENTALLY MAINTAINED index — standing
    * index unioned with a delta corpus's anchored windows, the q156
    * delta-assignment pattern — provably yields the same spans as a full
    * rebuild (q166): documents are immutable, so index maintenance under
    * corpus append is exactly "append the delta's window rows"; no
    * recomputation of the standing side, never a corpus rescan.
    */
  def spansFromAnchorIndex(index: DataFrame, idCol: String, minLen: Int): DataFrame = {
    val dupWins = index.groupBy("win")
      .agg(countDistinct(idCol).as("__nd")).filter(col("__nd") >= 2)
      .select("win")
    mergeWindowIntervals(
      index.join(dupWins, Seq("win")).select(col(idCol), col("pos")), idCol, minLen)
  }

  /** The anchored (id, pos, win) window stream of [[anchorSubstrSpans]] —
    * pure map-side (explode of a filtered transform), so it runs unchanged
    * inside a STREAMING plan ([[graft.streaming.StreamingSubstr]]'s probe).
    */
  private[graft] def anchoredWindows(df: DataFrame, idCol: String, textCol: String,
                                     minLen: Int, anchorEvery: Int): DataFrame = {
    import graft.functions.expressions.AnchorPositions
    import org.apache.spark.sql.{GraftSqlBridge => B}
    require(minLen > AnchorK, s"anchored windows need minLen > $AnchorK, got $minLen")
    require(anchorEvery >= 1, s"anchorEvery must be >= 1, got $anchorEvery")
    // anchor positions come from ONE rolling O(n) kernel pass (the HOF
    // predicate it replaces evaluated 8 substr+ascii allocations at every
    // position — see AnchorPositions for the congruence argument); window
    // strings are still built only AT anchors, so the explode emits
    // ~n/anchorEvery rows
    val positions = B.column(AnchorPositions(B.expression(col(textCol)), minLen, anchorEvery))
    df.select(col(idCol),
        explode(transform(positions,
          i => struct(i.as("pos"), col(textCol).substr(i, lit(minLen)).as("win")))).as("pw"))
      .select(col(idCol), col("pw.pos").as("pos"), col("pw.win").as("win"))
  }

  /** SemDeDup with the PAPER'S keep rule (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * 2023, arXiv:2303.09540): cluster the corpus into k cells, compare
    * pairs only WITHIN a cell, and for every pair above the cosine
    * threshold keep the member with the LOWER similarity to its cell
    * centroid (§2's diversity-preserving rule; ties break to the lower
    * id). Complements [[AnnIndex.semanticDedup]] (q83), which runs the
    * simpler keep-FIRST policy over untrained lowest-id cells and returns
    * only the survivors; this variant runs over TRAINED centroids
    * ([[AnnIndex.kmeansCentroids]]) and reports the full verdict table.
    *
    * Clustering is the tractability device, exactly as published: the
    * pairwise term is Σ|cell|², bounded by n²/k for balanced cells — k is
    * the knob that keeps a 100 TB corpus's comparisons feasible, and the
    * cell self-join is a plain equi-join on `cell` (no all-pairs shuffle;
    * vectors travel only into their own cell's bucket). Cell assignment
    * uses the same argmin(c² − 2·q·c, tie → lower index) convention as
    * [[AnnIndex.ivfTopK]], so centroids trained by
    * [[AnnIndex.kmeansCentroids]] slot in directly.
    *
    * Returns one row per input: (vec_id, cell, cent_sim, is_dup) — is_dup=1
    * marks members a semantic-dedup pass would DROP. Similarities are
    * floor-rounded to `roundTo` BEFORE the threshold/keep comparisons, so
    * the decision boundary is oracle-reproducible.
    */
  def semDeDup(df: DataFrame, idCol: String, vecCol: String,
               centroids: Seq[Seq[Double]], tau: Double,
               roundTo: Int = 6): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, cosineFromNormSq, cosine, l2NormSq}
    // cell argmin + centroid lookup as kernel nodes, not nlist·dim literals
    // (see AnnIndex.argminCell — the r17 plan-size fix)
    val mat = AnnIndex.centMat(centroids)
    // norms once per ROW, not per pair (cosineFromNormSq is bit-identical
    // to cosine, so the saving never moves a decision boundary)
    val assigned = df
      .select(col(idCol).cast("long").as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cell", AnnIndex.argminCell(col("v"), mat).cast("long"))
      .withColumn("nsq", l2NormSq(col("v")))
      .withColumn("cent_sim", floorRound(
        cosine(col("v"), AnnIndex.centroidOf(col("cell").cast("int"), mat)), roundTo))
      .cache() // cache-lifetime: both pair sides + the final left join read
               // the k-way argmin assignment; see Caching
    val a = assigned.select(col("cell"), col("id").as("id_a"), col("v").as("v_a"),
      col("nsq").as("nsq_a"), col("cent_sim").as("cs_a"))
    val b = assigned.select(col("cell"), col("id").as("id_b"), col("v").as("v_b"),
      col("nsq").as("nsq_b"), col("cent_sim").as("cs_b"))
    val dropped = a.join(b, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("sim", floorRound(cosineFromNormSq(col("v_a"), col("v_b"),
        col("nsq_a"), col("nsq_b")), roundTo))
      .filter(col("sim") >= tau)
      // the paper's keep rule: x drops when a τ-similar y is KEPT over it —
      // y sits FARTHER from the centroid (lower cent_sim), ties to lower id
      .filter(col("cs_b") < col("cs_a") ||
        (col("cs_b") === col("cs_a") && col("id_b") < col("id_a")))
      .select(col("id_a").as("id")).distinct()
    assigned
      .join(dropped.withColumn("__dup", lit(1L)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"), col("cent_sim"),
        coalesce(col("__dup"), lit(0L)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** Interval union of [pos, pos+minLen) windows per id — maximal covered
    * spans via running-max islands; merges overlapping AND adjacent
    * coverage (pos == previous end), the same contiguity rule as
    * [[exactSubstrSpans]]' consecutive positions.
    */
  private[graft] def mergeWindowIntervals(marked: DataFrame, idCol: String,
                                          minLen: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ord = W.partitionBy(idCol).orderBy("pos")
    val prevMaxEnd = max(col("pos") + minLen)
      .over(ord.rowsBetween(W.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(prevMaxEnd.isNull || col("pos") > prevMaxEnd, 1L).otherwise(0L))
      .withColumn("__g", sum("__new").over(ord))
      .groupBy(col(idCol), col("__g"))
      .agg(min("pos").as("__s"), max(col("pos") + minLen).as("__e"))
      .select(col(idCol),
        col("__s").cast("long").as("span_start"),
        (col("__e") - col("__s")).cast("long").as("span_len"))
      .orderBy(idCol, "span_start")
  }
}
