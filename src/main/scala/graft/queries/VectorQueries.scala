package graft.queries

import graft.Tables
import graft.functions.MathFunctions.{floorRound => fr, floorRoundSql => frs}
import graft.functions.VectorFunctions._
import graft.operators.{AnnIndex, TopK}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Vector / similarity-search coverage over the `embeddings` fixture — the
  * query-side capability the reference delegates to its vector store
  * (reference `vectrekker/main.py:22-23,162-167`, cosine metric): centroids,
  * single-query top-k, batch kNN join, and LSH-bucketed ANN.
  */
object VectorQueries {

  /** Shared oracle CTE chain for the hyperplane-LSH ANN (q27, q76): corpus →
    * auto-sized nbits (params) → integer-hash planes → sign-pattern buckets →
    * hamming-≤1 candidate pairs for queries vec_id < 10. Mirrors
    * [[AnnIndex.annTopK]] with multiprobe.
    */
  private val annLshCtes: String =
    """WITH params AS (
      |  SELECT greatest(4, coalesce((
      |    SELECT min(b) FROM (SELECT unnest(generate_series(0, 20)) AS b) bs
      |    WHERE (CAST(128 AS BIGINT) << CAST(b AS INTEGER)) >= (SELECT count(*) FROM embeddings)), 20)) AS nbits),
      |planes AS (
      |  SELECT list(list_transform(generate_series(0, 63), d ->
      |      CAST(((j*64+d+1)*(j*64+d+1) * 2654435761 + 97*(j*64+d+1) + 12345) % 1000003
      |        - 501001 AS DOUBLE)) ORDER BY j) AS ws
      |  FROM (SELECT unnest(generate_series(0, (SELECT nbits FROM params) - 1)) AS j)),
      |buck AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    list_sum(list_transform(generate_series(1, params.nbits),
      |      j -> CASE WHEN list_inner_product(embedding::DOUBLE[], planes.ws[j]) >= CAST(0.0 AS DOUBLE)
      |           THEN (CAST(1 AS BIGINT) << (j-1)) ELSE CAST(0 AS BIGINT) END)) AS bucket
      |  FROM embeddings, planes, params),
      |cand AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id, q.v AS qv, c.v AS cv
      |  FROM buck q JOIN buck c
      |    ON bit_count(xor(q.bucket, c.bucket)) <= 1 AND q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10
      |    AND list_sum(list_transform(q.v, x -> x*x)) > 0
      |    AND list_sum(list_transform(c.v, x -> x*x)) > 0)""".stripMargin

  /** SQL twin of [[graft.operators.Retrieval.rankingEval]]'s metric tail —
    * the shared [[graft.operators.Retrieval.rankingEvalTailSql]] with this
    * file's (q_id, c_id) column names. Shared by q228 (batch LSH vs cosine
    * truth) and q229 (streamed PQ vs exact-L2 truth) so the metric
    * arithmetic cannot drift.
    */
  private def rankingEvalTailSql(k: Int): String =
    graft.operators.Retrieval.rankingEvalTailSql(k, "q_id", "c_id")

  /** The q228 report card as a reusable relation — LSH ANN ranking (k=10)
    * evaluated against exact-cosine truth. q230 summarizes it; sharing the
    * construction keeps the two queries' inputs identical by definition.
    */
  private def lshRetrievalEval(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val nbits = AnnIndex.autoNbits(emb.count())
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val sys = AnnIndex.annTopK(queries, "q_id", "q_vec",
      emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
      k = 10, nbits = nbits, dim = 64)
    val truth = TopK.knnJoin(queries, "q_id", "q_vec",
      emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding", k = 10)
      .select("q_id", "c_id")
    graft.operators.Retrieval.rankingEval(sys, truth, "q_id", "c_id", "rn", k = 10)
  }

  /** The LSH system ranking CTE (q228/q230/q232): ANN candidates ranked by
    * floor-rounded cosine with id tiebreak, top-10 per query.
    */
  private lazy val lshSysrCte: String =
    s"""sysr AS (
       |  SELECT q_id, c_id, rn FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
       |    FROM cand)
       |  WHERE rn <= 10)""".stripMargin

  /** The exact-cosine ranked sub-select (q_id, c_id, rn) the truth CTEs cut
    * their top-10 from — binary (q228/q230) and graded (q232) share it.
    */
  private lazy val lshTruRankedSql: String =
    s"""SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${frs("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} DESC, c.vec_id) AS rn
       |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
       |    WHERE q.vec_id < 10
       |      AND list_sum(list_transform(q.embedding::DOUBLE[], x -> x*x)) > 0
       |      AND list_sum(list_transform(c.embedding::DOUBLE[], x -> x*x)) > 0""".stripMargin

  /** q228's full oracle — also wrapped as a CTE by q230's summary. */
  private lazy val lshRetrievalEvalOracle: String =
    s"""$annLshCtes,
       |$lshSysrCte,
       |tru AS (
       |  SELECT q_id, c_id FROM (
       |    $lshTruRankedSql)
       |  WHERE rn <= 10),
       |${rankingEvalTailSql(10)}""".stripMargin

  /** Shared oracle CTEs for IVF cell ASSIGNMENT (q40, q78, q83): 16 lowest-id
    * coarse centroids → nearest-cell assignment (argmin |c|²−2·v·c, tie by
    * cell id). Mirrors [[AnnIndex.ivfTopK]] / [[AnnIndex.semanticDedup]] with
    * nlist=16.
    */
  private val ivfAssignCtes: String =
    """WITH cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
      |    embedding::DOUBLE[] AS cv,
      |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(embedding::DOUBLE[], x -> x*x)), (a, x) -> a + x) AS c2
      |  FROM embeddings ORDER BY vec_id LIMIT 16),
      |assign AS (
      |  SELECT vec_id, v, cell FROM (
      |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.ci AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
      |    FROM embeddings e CROSS JOIN cents c)
      |  WHERE rn = 1)""".stripMargin

  /** [[ivfAssignCtes]] + 4-cell probes for queries vec_id < 10 → candidate
    * pairs (q40, q78). Mirrors [[AnnIndex.ivfTopK]] with nlist=16, nprobe=4.
    */
  private val annIvfCtes: String =
    s"""$ivfAssignCtes,
      |probes AS (
      |  SELECT vec_id AS q_id, v AS qv, cell FROM (
      |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.ci AS cell,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
      |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
      |  WHERE rn <= 4),
      |cand AS (
      |  SELECT p.q_id, a.vec_id AS c_id, p.qv, a.v AS cv
      |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id <> a.vec_id
      |  WHERE list_sum(list_transform(p.qv, x -> x*x)) > 0
      |    AND list_sum(list_transform(a.v, x -> x*x)) > 0)""".stripMargin

  private[queries] val PqM = 16    // subspaces (one small code each per vector)
  private[queries] val PqDsub = 4  // dims per subspace (64 / PqM)
  private[queries] val PqKsub = 16 // codebook entries per subspace (4-bit codes)

  /** Trained PQ codebooks for q135/q136: per subspace j (of [[PqM]]), one
    * Lloyd iteration of k-means over the corpus' subvector slices
    * (k=[[PqKsub]], init = lowest-id slices —
    * [[AnnIndex.kmeansCentroids]]' own policy). Centroid components are
    * floor-rounded to 9 decimals per iteration, so the SQL mirror's
    * independently-trained values coincide with these (a cross-engine avg
    * would otherwise drift in the last ulp).
    */
  private def pqTrainedCodebooks(s: org.apache.spark.sql.SparkSession,
                                 dir: String): Array[Array[Seq[Double]]] =
    AnnIndex.pqTrainCodebooks(Tables.embeddings(s, dir), "vec_id", "embedding",
      m = PqM, ksub = PqKsub, dim = 64, iters = 1)

  /** Shared oracle CTE chain for IVF-PQ (q135, q136): [[ivfAssignCtes]]'s
    * coarse cells + the [[PqM]]×[[PqKsub]] product-quantization codebook —
    * initialized from lowest-id subvector slices, then refined by ONE Lloyd
    * iteration (assign → per-(subspace, code, pos) mean, floor-rounded to 9,
    * empty cells keep their init entry) exactly mirroring
    * [[AnnIndex.kmeansCentroids]](iters=1) — → corpus codes (argmin entry
    * per subspace) → per-(query, subspace, entry) ADC terms → reconstructed
    * squared-L2 distances for the probed candidates. Mirrors
    * [[AnnIndex.pqTopK]] with nlist=16, nprobe=4, queries vec_id < 10; every
    * float reduction is the sequential left fold both engines share.
    */

  /** Shared top-3 ADC ranking over [[pqCtes]] — the oracle of BOTH q135
    * (batch) and q151 (streamed probe): one SQL, two execution topologies.
    */
  /** Trained RESIDUAL codebooks for q164/q165: [[AnnIndex.pqResidualCorpus]]
    * (v − centroid(cell), deterministic lowest-id coarse centroids) fed to
    * the same one-iteration trainer as [[pqTrainedCodebooks]].
    */
  private def pqResidualTrainedCodebooks(s: org.apache.spark.sql.SparkSession,
                                         dir: String): Array[Array[Seq[Double]]] =
    AnnIndex.pqTrainCodebooks(
      AnnIndex.pqResidualCorpus(Tables.embeddings(s, dir), "vec_id", "embedding", nlist = 16),
      "vec_id", "__resid", m = PqM, ksub = PqKsub, dim = 64, iters = 1)

  /** The residual-encoding CTE chain (assumes `cents`/`assign` from
    * [[ivfAssignCtes]] are in scope): residual vectors, residual-trained
    * codebooks (init = lowest-id residual slices, one Lloyd step), residual
    * codes, per-(query, probed cell) ADC terms, reconstructed distances.
    * Mirrors [[AnnIndex.pqResidualParts]] + the residual trainer.
    */
  private val pqResidualChain: String = {
    val rsl = (v: String, j: String) => s"list_slice($v, $j*$PqDsub+1, $j*$PqDsub+$PqDsub)"
    val sq = (v: String) =>
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($v, x -> x*x)), (a, x) -> a + x)"
    s"""rall AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS rv
       |  FROM assign a JOIN cents c ON c.ci = a.cell),
       |rcbv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pci, rv AS pcv
       |  FROM rall ORDER BY vec_id LIMIT $PqKsub),
       |rsubs0 AS (
       |  SELECT j, pci, ${rsl("pcv", "j")} AS s, ${sq(rsl("pcv", "j"))} AS c2
       |  FROM rcbv CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j) js),
       |ra1 AS (
       |  SELECT vec_id, j, pci AS code, sv FROM (
       |    SELECT r.vec_id, su.j, su.pci, ${rsl("r.rv", "su.j")} AS sv,
       |      row_number() OVER (PARTITION BY r.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${rsl("r.rv", "su.j")}, su.s), su.pci) AS rn
       |    FROM rall r CROSS JOIN rsubs0 su)
       |  WHERE rn = 1),
       |rm1 AS (
       |  SELECT j, code, pos, ${frs("avg(comp)", 9)} AS mc
       |  FROM (SELECT j, code, unnest(sv) AS comp, generate_subscripts(sv, 1) AS pos FROM ra1)
       |  GROUP BY j, code, pos),
       |rsubs AS (
       |  SELECT s0.j, s0.pci, coalesce(m.ms, s0.s) AS s,
       |    ${sq("coalesce(m.ms, s0.s)")} AS c2
       |  FROM rsubs0 s0 LEFT JOIN (
       |    SELECT j, code, list(mc ORDER BY pos) AS ms FROM rm1 GROUP BY j, code) m
       |  ON m.j = s0.j AND m.code = s0.pci),
       |rcodes AS (
       |  SELECT vec_id, j, pci AS code FROM (
       |    SELECT r.vec_id, su.j, su.pci,
       |      row_number() OVER (PARTITION BY r.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${rsl("r.rv", "su.j")}, su.s), su.pci) AS rn
       |    FROM rall r CROSS JOIN rsubs su)
       |  WHERE rn = 1),
       |rprobes AS (
       |  SELECT vec_id AS q_id, cell, qrv FROM (
       |    SELECT e.vec_id, c.ci AS cell,
       |      list_transform(generate_series(1, 64), i -> (e.embedding::DOUBLE[])[i] - c.cv[i]) AS qrv,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
       |  WHERE rn <= 4),
       |rterms AS (
       |  SELECT p.q_id, p.cell, su.j, su.pci,
       |    ${sq(rsl("p.qrv", "su.j"))} + su.c2
       |      - CAST(2.0 AS DOUBLE) * list_inner_product(${rsl("p.qrv", "su.j")}, su.s) AS t
       |  FROM rprobes p CROSS JOIN rsubs su),
       |radist AS (
       |  SELECT ca.q_id, ca.c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.t ORDER BY t.j)), (a, x) -> a + x) AS d
       |  FROM (
       |    SELECT p.q_id, p.cell, a.vec_id AS c_id
       |    FROM rprobes p JOIN assign a ON p.cell = a.cell
       |    WHERE p.q_id <> a.vec_id) ca
       |  JOIN rcodes co ON co.vec_id = ca.c_id
       |  JOIN rterms t ON t.q_id = ca.q_id AND t.cell = ca.cell AND t.j = co.j AND t.pci = co.code
       |  GROUP BY ca.q_id, ca.c_id)""".stripMargin
  }

  private lazy val pqResidualTopKOracle: String =
    s"""$ivfAssignCtes,
       |$pqResidualChain
       |SELECT q_id, c_id, score, rn FROM (
       |  SELECT q_id, c_id, ${frs("d", 6)} AS score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
       |  FROM radist)
       |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  private lazy val pqTopKOracle: String =
    s"""$pqCtes
       |SELECT q_id, c_id, score, rn FROM (
       |  SELECT q_id, c_id, ${frs("d", 6)} AS score,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
       |  FROM adist)
       |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  private val pqCtes: String =
    s"""$ivfAssignCtes,
       |cbv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pci, embedding::DOUBLE[] AS pcv
       |  FROM embeddings ORDER BY vec_id LIMIT ${PqKsub}),
       |subs0 AS (
       |  SELECT j, pci, list_slice(pcv, j*$PqDsub+1, j*$PqDsub+$PqDsub) AS s,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list_slice(pcv, j*$PqDsub+1, j*$PqDsub+$PqDsub), x -> x*x)), (a, x) -> a + x) AS c2
       |  FROM cbv CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j) js),
       |a1 AS (
       |  SELECT vec_id, j, pci AS code, sv FROM (
       |    SELECT a.vec_id, su.j, su.pci, list_slice(a.v, su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub) AS sv,
       |      row_number() OVER (PARTITION BY a.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(list_slice(a.v, su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub), su.s), su.pci) AS rn
       |    FROM assign a CROSS JOIN subs0 su)
       |  WHERE rn = 1),
       |m1 AS (
       |  SELECT j, code, pos, ${frs("avg(comp)", 9)} AS mc
       |  FROM (SELECT j, code, unnest(sv) AS comp, generate_subscripts(sv, 1) AS pos FROM a1)
       |  GROUP BY j, code, pos),
       |subs AS (
       |  SELECT s0.j, s0.pci, coalesce(m.ms, s0.s) AS s,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(coalesce(m.ms, s0.s), x -> x*x)), (a, x) -> a + x) AS c2
       |  FROM subs0 s0 LEFT JOIN (
       |    SELECT j, code, list(mc ORDER BY pos) AS ms FROM m1 GROUP BY j, code) m
       |  ON m.j = s0.j AND m.code = s0.pci),
       |codes AS (
       |  SELECT vec_id, j, pci AS code FROM (
       |    SELECT a.vec_id, su.j, su.pci,
       |      row_number() OVER (PARTITION BY a.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(list_slice(a.v, su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub), su.s), su.pci) AS rn
       |    FROM assign a CROSS JOIN subs su)
       |  WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS q_id, cell FROM (
       |    SELECT e.vec_id, c.ci AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
       |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
       |  WHERE rn <= 4),
       |terms AS (
       |  SELECT e.vec_id AS q_id, su.j, su.pci,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list_slice(e.embedding::DOUBLE[], su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub), x -> x*x)), (a, x) -> a + x)
       |      + su.c2
       |      - CAST(2.0 AS DOUBLE) * list_inner_product(list_slice(e.embedding::DOUBLE[], su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub), su.s) AS t
       |  FROM embeddings e CROSS JOIN subs su WHERE e.vec_id < 10),
       |adist AS (
       |  SELECT ca.q_id, ca.c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.t ORDER BY t.j)), (a, x) -> a + x) AS d
       |  FROM (
       |    SELECT p.q_id, a.vec_id AS c_id
       |    FROM probes p JOIN assign a ON p.cell = a.cell
       |    WHERE p.q_id <> a.vec_id) ca
       |  JOIN codes co ON co.vec_id = ca.c_id
       |  JOIN terms t ON t.q_id = ca.q_id AND t.j = co.j AND t.pci = co.code
       |  GROUP BY ca.q_id, ca.c_id)""".stripMargin

  // ──────────────── clustered fixture + trained-IVF + OPQ (q177/q178) ───────

  /** Sequential-fold sum of squares — the shared accumulation order of
    * [[graft.functions.VectorFunctions.l2NormSq]] / Scala `Seq.sum`.
    */
  private[queries] def sqSql(v: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($v, x -> x*x)), (a, x) -> a + x)"

  /** The clustered-embedding corpus (round-10 verdict top task): 32 widely
    * separated clusters DERIVED deterministically from `embeddings.vec_id`
    * by integer hashing ([[graft.operators.Opq.h]]) — per-dim centers
    * ±501001 (cluster = vec_id mod 32) plus anisotropic per-row noise
    * (dims 0–7 ±25013, dims 8–63 ±1564). Derived, not stored (the
    * rendition-corpus pattern): both engines GENERATE the same corpus from
    * this shared formula, and every component is an integer-valued double,
    * so cell assignments and un-rotated distances are EXACT in both. The
    * noise anisotropy concentrates residual variance in PQ subspaces 0–1 —
    * precisely the pathology OPQ's variance-balancing rotation targets
    * (Ge et al., CVPR 2013 §1). q165 measured the null result on the
    * near-uniform `embeddings` fixture; this corpus is where the residual
    * and OPQ constructions can show their win.
    */
  private def hSql(k: String): String =
    s"((($k)*($k) % 1000003) * 2654435761 + 97*($k) + 12345) % 1000003"
  private val cvBody: String = {
    // CAST to BIGINT up front: k*k reaches ~4.5e12 — silent int32 overflow
    // territory if vec_id/d arrive as 32-bit ints.
    val hc = hSql("(CAST(vec_id AS BIGINT) % 32)*64 + CAST(d AS BIGINT) + 1")
    val hn = hSql("2000003 + (CAST(vec_id AS BIGINT) % 10000019)*64 + CAST(d AS BIGINT) + 1")
    s"CAST(($hc - 501001) + (CASE WHEN d < 8 THEN $hn % 50027 - 25013 ELSE $hn % 3129 - 1564 END) AS DOUBLE)"
  }
  private val cfCte: String =
    s"cf AS (SELECT vec_id, list_transform(generate_series(0, 63), d -> $cvBody) AS v FROM embeddings)"
  /** [[cfCte]] with `cf` REDEFINED as a filtered subset — every downstream
    * training CTE ([[cfKmeansCtes]], [[cfRawEncodeCtes]]) is rooted on
    * `cf`, so re-rooting it makes the WHOLE standing quantizer-training
    * oracle retrain on the subset verbatim. This is what lets the
    * migration oracle (q273) express "from-scratch build under the NEW
    * quantizer" as the unchanged training SQL over the drifted corpus.
    */
  private def cfFilteredCte(pred: String): String =
    s"""cfall AS (SELECT vec_id, list_transform(generate_series(0, 63), d -> $cvBody) AS v FROM embeddings),
       |cf AS (SELECT vec_id, v FROM cfall WHERE $pred)""".stripMargin
  // cache-lifetime: the OPQ/IVF audit chains (q177/q178/q186) read this
  // corpus from ~10 sequential training/probe/ground-truth consumers, and
  // the 64-expression hash synthesis is the single hottest subtree of both
  // audits (measured: q178 15.7 s / q186 18.1 s regenerating per consumer).
  // One cached copy is ~1 MB at sf0.1; the bench's per-query clearCache
  // bounds the lifetime.
  private[graft] def clusteredDf(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir).select(col("vec_id"),
      expr(s"transform(sequence(0, 63), d -> $cvBody)").as("cvec"))
      .cache()

  /** The trained ANN index PARAMETERS as materialized artifacts (the
    * contamHits pattern applied to parameter math): the Lloyd-trained
    * coarse centroids and each chain's PQ codebooks are deterministic
    * functions of the corpus (floor-rounded means, lowest-id init), so
    * they qualify for [[graft.pipeline.ArtifactStore]] — trained once per
    * input dir, loaded (a parameter-sized collect: 32 rows / m·ksub rows)
    * by every audit query thereafter. This is also how a deployment ships
    * an IVF-PQ index: quantizer parameters are artifacts of a training
    * run, not something each query session re-derives.
    */
  private def trainedCents(s: org.apache.spark.sql.SparkSession,
                           dir: String): Array[Seq[Double]] = {
    import graft.pipeline.ArtifactStore
    val df = ArtifactStore.loadOrBuild(s,
      ArtifactStore.rootFor(dir, "ivf_cents_cf_k32_i1_v1")) {
      import s.implicits._
      AnnIndex.kmeansCentroids(clusteredDf(s, dir), "cvec", "vec_id", k = 32, iters = 1)
        .zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("ci", "cv")
    }
    df.orderBy("ci").collect().map(_.getSeq[Double](1)) // 32 rows — parameters
  }

  /** An ENCODED-corpus artifact — the (id, cell, codes) index table a
    * deployed IVF-PQ index persists, materialized once per (chain, dir)
    * and shared by every audit consuming that chain (q178/q186/q197).
    * Candidate SCORING stays live by decision (docs/PLANS.md, r12 verdict
    * task 8): an audit that loads its own prior scores is weaker evidence
    * than one that recomputes them; the index tables are the legitimately
    * deployment-shaped artifact.
    */
  private def encodedArtifact(s: org.apache.spark.sql.SparkSession, dir: String,
                              name: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.pipeline.ArtifactStore.loadOrBuild(s,
      graft.pipeline.ArtifactStore.rootFor(dir, name))(build)

  /** One PQ codebook set as an artifact: (j, code, vec) rows, rebuilt into
    * the m×ksub array shape the AnnIndex APIs take. `train` runs only on a
    * cache miss.
    */
  private def trainedCodebooks(s: org.apache.spark.sql.SparkSession, dir: String,
                               name: String)(
      train: => Array[Array[Seq[Double]]]): Array[Array[Seq[Double]]] = {
    import graft.pipeline.ArtifactStore
    val df = ArtifactStore.loadOrBuild(s, ArtifactStore.rootFor(dir, name)) {
      import s.implicits._
      train.zipWithIndex.flatMap { case (cb, j) =>
        cb.zipWithIndex.map { case (v, code) => (j, code, v) }
      }.toSeq.toDF("j", "code", "vec")
    }
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val m = rows.map(_._1).max + 1
    Array.tabulate(m)(j => rows.filter(_._1 == j).sortBy(_._2).map(_._3))
  }

  /** PARAPHRASE-shaped augmentation of the clustered corpus (q196): every
    * vec_id % 4 == 0 member gains a planted near-duplicate at id+100000 —
    * the original vector plus integer noise in [−3, 3] per dim (hash-
    * derived, shared formula both engines). Against per-dim centers of
    * ~±5·10⁵ the copy's cosine to its source is ~1 − 3·10⁻¹¹ (≈ 1.0 at 6
    * decimals) while DISTINCT same-cluster members sit near 1 − 3·10⁻⁴ —
    * two well-separated similarity bands, so a threshold between them maps
    * "paraphrase" and "merely same-topic" to opposite sides. Components
    * stay integer-valued doubles → assignments and dots remain exact.
    */
  private val paraNoiseBody: String =
    s"CAST(${hSql("3000011 + CAST(vec_id AS BIGINT)*64 + CAST(d AS BIGINT)")} % 7 - 3 AS DOUBLE)"
  private[graft] def paraphraseDf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val copies = Tables.embeddings(s, dir).filter(col("vec_id") % 4 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr(s"transform(sequence(0, 63), d -> ($cvBody) + ($paraNoiseBody))").as("cvec"))
    clusteredDf(s, dir).unionByName(copies)
  }
  private val paraphraseCtes: String =
    s"""pcopy AS (
       |  SELECT vec_id + 100000 AS vec_id, nv AS v FROM (
       |    SELECT vec_id,
       |      list_transform(generate_series(0, 63), d -> ($cvBody) + ($paraNoiseBody)) AS nv
       |    FROM embeddings WHERE vec_id % 4 = 0)),
       |pf AS (SELECT vec_id, v FROM cf UNION ALL SELECT vec_id, v FROM pcopy)""".stripMargin

  /** Lloyd-trained coarse centroids + cell assignment, mirroring
    * [[AnnIndex.kmeansCentroids]](k=32, iters=1) exactly: init = the 32
    * lowest-id vectors, one assign → per-(cell,pos) mean (floor-rounded to
    * 9, empty cells keep their init entry), then `asg` re-assigns the whole
    * corpus against the REFINED centroids. Means are exact cross-engine
    * because cf components are integer-valued (sum < 2^53 — order-free).
    */
  /** [[cfKmeansCtes]] parameterized on the SOURCE relation and a CTE-name
    * prefix — the q280 A/B gate trains one quantizer per corpus snapshot
    * (stale on `cf`, migrated on the drifted `cfd`) inside one query.
    * `kmeansCtesOn("cf", "")` is byte-identical to the historical
    * cfKmeansCtes, so every standing oracle is unchanged. `asgSrc` (q285)
    * separates the TRAINING relation from the relation the final `asg`
    * assigns — the sampled-training shape: Lloyd runs on the sample, the
    * full corpus is assigned under the refined centroids.
    */
  private[queries] def kmeansCtesOn(src: String, px: String,
                                    asgSrc: String = null): String = {
    val aSrc = Option(asgSrc).getOrElse(src)
    s"""${px}kinit AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
       |  FROM $src ORDER BY vec_id LIMIT 32),
       |${px}ka AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT f.vec_id, f.v, k.ci AS cell,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY k.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, k.cv), k.ci) AS rn
       |    FROM $src f CROSS JOIN (SELECT ci, cv, ${sqSql("cv")} AS c2 FROM ${px}kinit) k)
       |  WHERE rn = 1),
       |${px}km AS (
       |  SELECT cell, pos, ${frs("avg(comp)", 9)} AS mc
       |  FROM (SELECT cell, unnest(v) AS comp, generate_subscripts(v, 1) AS pos FROM ${px}ka)
       |  GROUP BY cell, pos),
       |${px}cents AS (
       |  SELECT i.ci, coalesce(m.ms, i.cv) AS cv, ${sqSql("coalesce(m.ms, i.cv)")} AS c2
       |  FROM ${px}kinit i LEFT JOIN (
       |    SELECT cell, list(mc ORDER BY pos) AS ms FROM ${px}km GROUP BY cell) m
       |  ON m.cell = i.ci),
       |${px}asg AS (
       |  SELECT vec_id, v, cell FROM (
       |    SELECT f.vec_id, f.v, c.ci AS cell,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
       |    FROM $aSrc f CROSS JOIN ${px}cents c)
       |  WHERE rn = 1)""".stripMargin
  }

  private val cfKmeansCtes: String = kmeansCtesOn("cf", "")

  /** The RETRAINED OPQ rotation of the q282 migration: the drifted
    * survivors' 256-lowest-id residual sample (pure function of the drift
    * predicate), through the same trainer as the v1 fixture rotation —
    * computed once, used as BOTH the Spark-side migrateOpq parameter and
    * the oracle's rmat literal.
    */
  private lazy val migOpqRotation: Array[Array[Double]] = {
    val keep: Long => Boolean =
      i => (i % 32) != 5 && (i % 32) != 6 && (i % 32) != 7
    graft.operators.Opq.trainRotation(
      graft.operators.Opq.residSampleFiltered(keep), m = 16, dsub = 4)
  }

  /** Raw-PQ chain over `cf` with the trained `cents` (prefix `p`): codebooks
    * init from the 16 lowest-id vectors' slices + one Lloyd step, codes for
    * the whole corpus, probes/ADC for queries vec_id < 20 — the [[pqCtes]]
    * shape re-rooted on the clustered corpus.
    */
  /** The TRAINED raw-PQ quantizer + whole-corpus encode prefix of
    * [[cfRawChain]] (pcbv → pcodes), factored out so the erasure-repair
    * oracle (q248) can rebuild the encoded SURVIVORS under the standing
    * quantizer without dragging in the probe/ADC tail.
    */
  /** `cfRawEncodeCtes` parameterized on the TRAINING relation (codebook
    * init + Lloyd assignment) and the ENCODE relation (pcodes) — the
    * sampled-training shape (q285): codebooks train on the fixed-size
    * hash sample, the full corpus encodes under them.
    * `rawEncodeCtesOn()` is byte-identical to the historical value, so
    * every standing oracle is unchanged.
    */
  private[queries] def rawEncodeCtesOn(trainSrc: String = "cf", encSrc: String = "cf"): String = {
    val sl = (v: String, j: String) => s"list_slice($v, $j*$PqDsub+1, $j*$PqDsub+$PqDsub)"
    s"""pcbv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pci, v AS pcv
       |  FROM $trainSrc ORDER BY vec_id LIMIT $PqKsub),
       |psubs0 AS (
       |  SELECT j, pci, ${sl("pcv", "j")} AS s, ${sqSql(sl("pcv", "j"))} AS c2
       |  FROM pcbv CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j) js),
       |pa1 AS (
       |  SELECT vec_id, j, pci AS code, sv FROM (
       |    SELECT a.vec_id, su.j, su.pci, ${sl("a.v", "su.j")} AS sv,
       |      row_number() OVER (PARTITION BY a.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${sl("a.v", "su.j")}, su.s), su.pci) AS rn
       |    FROM $trainSrc a CROSS JOIN psubs0 su)
       |  WHERE rn = 1),
       |pm1 AS (
       |  SELECT j, code, pos, ${frs("avg(comp)", 9)} AS mc
       |  FROM (SELECT j, code, unnest(sv) AS comp, generate_subscripts(sv, 1) AS pos FROM pa1)
       |  GROUP BY j, code, pos),
       |psubs AS (
       |  SELECT s0.j, s0.pci, coalesce(m.ms, s0.s) AS s, ${sqSql("coalesce(m.ms, s0.s)")} AS c2
       |  FROM psubs0 s0 LEFT JOIN (
       |    SELECT j, code, list(mc ORDER BY pos) AS ms FROM pm1 GROUP BY j, code) m
       |  ON m.j = s0.j AND m.code = s0.pci),
       |pcodes AS (
       |  SELECT vec_id, j, pci AS code FROM (
       |    SELECT a.vec_id, su.j, su.pci,
       |      row_number() OVER (PARTITION BY a.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${sl("a.v", "su.j")}, su.s), su.pci) AS rn
       |    FROM $encSrc a CROSS JOIN psubs su)
       |  WHERE rn = 1)""".stripMargin
  }

  private val cfRawEncodeCtes: String = rawEncodeCtesOn()

  private def cfRawChain(maxNprobe: Int = 4, withRn: Boolean = false,
                         qSrc: String = "cf", candWhere: String = ""): String = {
    val sl = (v: String, j: String) => s"list_slice($v, $j*$PqDsub+1, $j*$PqDsub+$PqDsub)"
    val prnSel = if (withRn) ", rn AS prn" else ""
    val prnCand = if (withRn) ", p.prn" else ""
    val prnAgg = if (withRn) ", CAST(min(ca.prn) AS BIGINT) AS probe_rn" else ""
    s"""$cfRawEncodeCtes,
       |pprobes AS (
       |  SELECT vec_id AS q_id, cell$prnSel FROM (
       |    SELECT f.vec_id, c.ci AS cell,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
       |    FROM $qSrc f CROSS JOIN cents c WHERE f.vec_id < 20)
       |  WHERE rn <= $maxNprobe),
       |pterms AS (
       |  SELECT f.vec_id AS q_id, su.j, su.pci,
       |    ${sqSql(sl("f.v", "su.j"))} + su.c2
       |      - CAST(2.0 AS DOUBLE) * list_inner_product(${sl("f.v", "su.j")}, su.s) AS t
       |  FROM $qSrc f CROSS JOIN psubs su WHERE f.vec_id < 20),
       |padist AS (
       |  SELECT ca.q_id, ca.c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.t ORDER BY t.j)), (a, x) -> a + x) AS d$prnAgg
       |  FROM (
       |    SELECT p.q_id, a.vec_id AS c_id$prnCand
       |    FROM pprobes p JOIN asg a ON p.cell = a.cell
       |    WHERE p.q_id <> a.vec_id$candWhere) ca
       |  JOIN pcodes co ON co.vec_id = ca.c_id
       |  JOIN pterms t ON t.q_id = ca.q_id AND t.j = co.j AND t.pci = co.code
       |  GROUP BY ca.q_id, ca.c_id)""".stripMargin
  }

  /** Residual chain over `cf`/`cents` (prefix `px`), optionally rotating the
    * residuals by the OPQ matrix in the `rmat` CTE — the
    * [[pqResidualChain]] shape with the rotation spliced in IDENTICALLY on
    * the corpus and query sides (rotation-invariant distances, so only the
    * quantized space changes). Mirrors
    * [[AnnIndex.pqResidualParts]](coarseCentroids = kmeans, rotation = R).
    */
  private def cfResidChain(px: String, rot: Boolean, rmat: String = "rmat",
                           maxNprobe: Int = 4, withRn: Boolean = false,
                           qSrc: String = "cf"): String = {
    val sl = (v: String, j: String) => s"list_slice($v, $j*$PqDsub+1, $j*$PqDsub+$PqDsub)"
    val prnSel = if (withRn) ", q.rn AS prn" else ""
    val prnCand = if (withRn) ", p.prn" else ""
    val prnAgg = if (withRn) ", CAST(min(ca.prn) AS BIGINT) AS probe_rn" else ""
    val rotJoin = if (rot) s" CROSS JOIN $rmat rm" else ""
    val rvExpr =
      if (rot) "list_transform(generate_series(1, 64), rj -> list_inner_product(r0.rv0, rm.m[rj]))"
      else "r0.rv0"
    val qrvExpr =
      if (rot) "list_transform(generate_series(1, 64), rj -> list_inner_product(q.qrv0, rm.m[rj]))"
      else "q.qrv0"
    s"""${px}rall AS (
       |  SELECT r0.vec_id, r0.cell, $rvExpr AS rv
       |  FROM (
       |    SELECT a.vec_id, a.cell,
       |      list_transform(generate_series(1, 64), i -> a.v[i] - c.cv[i]) AS rv0
       |    FROM asg a JOIN cents c ON c.ci = a.cell) r0$rotJoin),
       |${px}cbv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pci, rv AS pcv
       |  FROM ${px}rall ORDER BY vec_id LIMIT $PqKsub),
       |${px}subs0 AS (
       |  SELECT j, pci, ${sl("pcv", "j")} AS s, ${sqSql(sl("pcv", "j"))} AS c2
       |  FROM ${px}cbv CROSS JOIN (SELECT unnest(generate_series(0, ${PqM - 1})) AS j) js),
       |${px}a1 AS (
       |  SELECT vec_id, j, pci AS code, sv FROM (
       |    SELECT r.vec_id, su.j, su.pci, ${sl("r.rv", "su.j")} AS sv,
       |      row_number() OVER (PARTITION BY r.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${sl("r.rv", "su.j")}, su.s), su.pci) AS rn
       |    FROM ${px}rall r CROSS JOIN ${px}subs0 su)
       |  WHERE rn = 1),
       |${px}m1 AS (
       |  SELECT j, code, pos, ${frs("avg(comp)", 9)} AS mc
       |  FROM (SELECT j, code, unnest(sv) AS comp, generate_subscripts(sv, 1) AS pos FROM ${px}a1)
       |  GROUP BY j, code, pos),
       |${px}subs AS (
       |  SELECT s0.j, s0.pci, coalesce(m.ms, s0.s) AS s, ${sqSql("coalesce(m.ms, s0.s)")} AS c2
       |  FROM ${px}subs0 s0 LEFT JOIN (
       |    SELECT j, code, list(mc ORDER BY pos) AS ms FROM ${px}m1 GROUP BY j, code) m
       |  ON m.j = s0.j AND m.code = s0.pci),
       |${px}codes AS (
       |  SELECT vec_id, j, pci AS code FROM (
       |    SELECT r.vec_id, su.j, su.pci,
       |      row_number() OVER (PARTITION BY r.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(${sl("r.rv", "su.j")}, su.s), su.pci) AS rn
       |    FROM ${px}rall r CROSS JOIN ${px}subs su)
       |  WHERE rn = 1),
       |${px}probes AS (
       |  SELECT q.q_id, q.cell, $qrvExpr AS qrv$prnSel
       |  FROM (
       |    SELECT f.vec_id AS q_id, c.ci AS cell,
       |      list_transform(generate_series(1, 64), i -> f.v[i] - c.cv[i]) AS qrv0,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
       |    FROM $qSrc f CROSS JOIN cents c WHERE f.vec_id < 20) q$rotJoin
       |  WHERE q.rn <= $maxNprobe),
       |${px}terms AS (
       |  SELECT p.q_id, p.cell, su.j, su.pci,
       |    ${sqSql(sl("p.qrv", "su.j"))} + su.c2
       |      - CAST(2.0 AS DOUBLE) * list_inner_product(${sl("p.qrv", "su.j")}, su.s) AS t
       |  FROM ${px}probes p CROSS JOIN ${px}subs su),
       |${px}adist AS (
       |  SELECT ca.q_id, ca.c_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(t.t ORDER BY t.j)), (a, x) -> a + x) AS d$prnAgg
       |  FROM (
       |    SELECT p.q_id, p.cell, a.vec_id AS c_id$prnCand
       |    FROM ${px}probes p JOIN asg a ON p.cell = a.cell
       |    WHERE p.q_id <> a.vec_id) ca
       |  JOIN ${px}codes co ON co.vec_id = ca.c_id
       |  JOIN ${px}terms t ON t.q_id = ca.q_id AND t.cell = ca.cell AND t.j = co.j AND t.pci = co.code
       |  GROUP BY ca.q_id, ca.c_id)""".stripMargin
  }

  /** Build-if-absent of a CELL-PARTITIONED trained raw-PQ encoded corpus
    * at artifact `name` — the deployed-index layout the erasure-repair
    * family mutates (q248 one-shot, q254 streamed, q255 append+erase
    * algebra). Returns (root, trained cents, trained codebooks).
    */
  private def pqEncPartitioned(s: org.apache.spark.sql.SparkSession, dir: String,
                               name: String): (String, Array[Seq[Double]]) = {
    val cf = clusteredDf(s, dir)
    val cents = trainedCents(s, dir)
    val rawCb = trainedCodebooks(s, dir, "pq_cb_raw_cf_v1")(
      AnnIndex.pqTrainCodebooks(cf, "vec_id", "cvec",
        m = PqM, ksub = PqKsub, dim = 64, iters = 1))
    val root = graft.pipeline.ArtifactStore.rootFor(dir, name)
    graft.pipeline.IndexErasure.ensurePartitioned(s, root, "cell") {
      AnnIndex.pqEncodedCorpus(cf.select(col("vec_id").as("c_id"), col("cvec")),
        "c_id", "cvec", PqM, PqKsub, 64, 32, Some(rawCb), Some(cents))
        .select(col("c_id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    (root, cents)
  }

  /** [[pqEncPartitioned]] for the RESIDUAL chain: build-if-absent the
    * cell-partitioned residual-encoded corpus under the v1 trained
    * quantizer (shared coarse cents + the `pq_cb_res_cf_v1` residual
    * codebooks). The q279 residual-migration fixture.
    */
  private def pqResidEncPartitioned(s: org.apache.spark.sql.SparkSession, dir: String,
                                    name: String): (String, Array[Seq[Double]]) = {
    val cf = clusteredDf(s, dir)
    val cents = trainedCents(s, dir)
    val resCb = trainedCodebooks(s, dir, "pq_cb_res_cf_v1")(
      AnnIndex.pqTrainCodebooks(
        AnnIndex.pqResidualCorpus(cf, "vec_id", "cvec", nlist = 32, Some(cents)),
        "vec_id", "__resid", m = PqM, ksub = PqKsub, dim = 64, iters = 1))
    val root = graft.pipeline.ArtifactStore.rootFor(dir, name)
    graft.pipeline.IndexErasure.ensurePartitioned(s, root, "cell") {
      AnnIndex.pqResidualEncodedCorpus(cf.select(col("vec_id").as("c_id"), col("cvec")),
        "c_id", "cvec", PqM, PqKsub, 64, 32, Some(resCb), Some(cents))
        .select(col("c_id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    (root, cents)
  }

  /** The trained SQ8 per-dim min/max over `cf` as the parameter pair array
    * the AnnIndex SQ8 APIs take — loaded from the shared
    * `sq8_params_cf_v1` artifact (64 rows — parameters, the q197/q209
    * fixture).
    */
  private def sq8ParamsOf(s: org.apache.spark.sql.SparkSession,
                          dir: String): Array[(Double, Double)] =
    graft.pipeline.ArtifactStore.loadOrBuild(s,
      graft.pipeline.ArtifactStore.rootFor(dir, "sq8_params_cf_v1")) {
      AnnIndex.sq8Train(clusteredDf(s, dir), "cvec")
    }.orderBy("pos").collect().map(r => (r.getDouble(1), r.getDouble(2)))

  /** [[pqEncPartitioned]] for the SQ8 chain (r19 verdict task 2): the
    * cell-partitioned byte-code index under the v1 trained quantizer
    * (shared coarse cents + the standing per-dim min/max params).
    */
  private def sq8EncPartitioned(s: org.apache.spark.sql.SparkSession, dir: String,
                                name: String): (String, Array[Seq[Double]]) = {
    val cf = clusteredDf(s, dir)
    val cents = trainedCents(s, dir)
    val params = sq8ParamsOf(s, dir)
    val root = graft.pipeline.ArtifactStore.rootFor(dir, name)
    graft.pipeline.IndexErasure.ensurePartitioned(s, root, "cell") {
      AnnIndex.sq8EncodedCorpus(cf.select(col("vec_id").as("c_id"), col("cvec")),
        "c_id", "cvec", nlist = 32, params, Some(cents))
        .select(col("c_id"), col("__cell").cast("long").as("cell"), col("__codes"))
    }
    (root, cents)
  }

  /** SQ8 ENCODE chain rooted on `cf` (sqp = per-dim min/max, scodes =
    * per-(vec, dim) byte code) — mirrors [[AnnIndex.sq8EncodedCorpus]]
    * token-for-token: `clamp(⌊(x−mn)·255/(mx−mn)⌋, 0, 255)`, 0 on a
    * degenerate range. Rooted on `cf` so [[cfFilteredCte]] re-roots the
    * whole refit for the migration oracle (q284), exactly like the PQ
    * encode CTEs. DuckDB's generate_subscripts is 1-based; the exploded
    * output casts pos−1 to match Spark's 0-based posexplode.
    */
  private val sq8EncodeCtes: String =
    s"""sqp AS (
       |  SELECT pos, min(comp) AS mn, max(comp) AS mx FROM (
       |    SELECT unnest(v) AS comp, generate_subscripts(v, 1) AS pos FROM cf)
       |  GROUP BY pos),
       |scodes AS (
       |  SELECT f.vec_id, p.pos,
       |    CASE WHEN p.mx - p.mn > 0 THEN
       |      CAST(least(greatest(floor((f.v[CAST(p.pos AS INTEGER)] - p.mn) * CAST(255.0 AS DOUBLE) / (p.mx - p.mn)),
       |        CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) AS BIGINT)
       |    ELSE CAST(0 AS BIGINT) END AS code
       |  FROM cf f CROSS JOIN sqp p)""".stripMargin

  /** Encode `rows` (vec_id, cvec) under the STANDING trained quantizer —
    * the delta-insert encoder of the maintenance algebra (no training:
    * codebooks and centroids arrive as parameters).
    */
  private def pqEncOf(s: org.apache.spark.sql.SparkSession, dir: String,
                      rows: org.apache.spark.sql.DataFrame,
                      cents: Array[Seq[Double]]): org.apache.spark.sql.DataFrame = {
    val cf = clusteredDf(s, dir)
    val rawCb = trainedCodebooks(s, dir, "pq_cb_raw_cf_v1")(
      AnnIndex.pqTrainCodebooks(cf, "vec_id", "cvec",
        m = PqM, ksub = PqKsub, dim = 64, iters = 1))
    AnnIndex.pqEncodedCorpus(rows.select(col("vec_id").as("c_id"), col("cvec")),
      "c_id", "cvec", PqM, PqKsub, 64, 32, Some(rawCb), Some(cents))
      .select(col("c_id"), col("__cell").cast("long").as("cell"), col("__codes"))
  }

  /** Shared oracle for the maintenance-algebra family (q255 and its
    * replay-order twin q263): from-scratch trained raw-PQ encode of
    * (corpus ∪ paraphrase delta) − tombstones under the standing
    * quantizer. Both queries must converge to exactly this relation —
    * q255 runs append→erase, q263 runs append→erase→REPLAYED append.
    */
  private lazy val maintenanceAlgebraOracleSql: String =
    s"""WITH $cfCte,
       |$paraphraseCtes,
       |$cfKmeansCtes,
       |$cfRawEncodeCtes,
       |pfasg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT f.vec_id, c.ci AS cell,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
       |    FROM pf f CROSS JOIN cents c)
       |  WHERE rn = 1),
       |pfcodes AS (
       |  SELECT vec_id, j, pci AS code FROM (
       |    SELECT a.vec_id, su.j, su.pci,
       |      row_number() OVER (PARTITION BY a.vec_id, su.j
       |        ORDER BY su.c2 - CAST(2.0 AS DOUBLE)
       |          * list_inner_product(list_slice(a.v, su.j*$PqDsub+1, su.j*$PqDsub+$PqDsub), su.s), su.pci) AS rn
       |    FROM pf a CROSS JOIN psubs su)
       |  WHERE rn = 1)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
       |FROM pfasg a JOIN pfcodes co ON co.vec_id = a.vec_id
       |WHERE NOT (a.vec_id % 32 = 5 AND a.vec_id % 3 = 0)
       |ORDER BY 1, 3""".stripMargin

  /** The repaired partitioned index as hash-comparable scalar rows. */
  private def readEncExploded(s: org.apache.spark.sql.SparkSession,
                              root: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.IndexErasure.readPartitioned(s, root, "cell")
      .select(col("c_id").as("vec_id"), col("cell"),
        posexplode(col("__codes")).as(Seq("j", "code")))
      .select(col("vec_id"), col("cell"), col("j").cast("long").as("j"),
        col("code").cast("long").as("code"))
      .orderBy("vec_id", "j")

  def all: ListMap[String, Q] = ListMap(
    "q23_centroids" -> Q(
      (s, dir) => {
        // Relational centroid: posexplode => per-(label,pos) partial agg —
        // distributes with no vector-wide state (SURVEY §2.4 X-A2).
        Tables.embeddings(s, dir)
          .select(col("label"), posexplode(asDouble(col("embedding"))))
          .groupBy("label", "pos")
          .agg(fr(avg("col"), 6).as("mean_v"))
          .select(col("label"), (col("pos") + 1).cast("long").as("pos"), col("mean_v"))
          .orderBy("label", "pos")
      },
      Some(s"""SELECT label, pos, ${frs("avg(v)", 6)} AS mean_v FROM (
             |  SELECT label, unnest(embedding::DOUBLE[]) AS v,
             |    generate_subscripts(embedding, 1) AS pos
             |  FROM embeddings)
             |GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    "q24_cosine_topk" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // O(1) driver-side fetch of the query parameter (not a data-plane collect)
        val qv = emb.filter(col("vec_id") === 0)
          .select(asDouble(col("embedding"))).head().getSeq[Double](0)
        TopK.topK(emb.filter(col("vec_id") =!= 0), "embedding", "vec_id", qv, k = 10)
          .select("vec_id", "label", "score")
      },
      Some(s"""SELECT vec_id, label,
             |  ${frs("list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0))", 6)} AS score
             |FROM embeddings WHERE vec_id <> 0
             |  AND list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) > 0
             |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin)),

    "q25_knn_join" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        TopK.knnJoin(queries, "q_id", "q_vec", emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding", k = 3)
          .withColumn("rn", col("rn").cast("long"))
          .select("q_id", "c_id", "score", "rn")
          .orderBy("q_id", "rn")
      },
      Some(s"""SELECT q_id, c_id, score, rn FROM (
             |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |    ${frs("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} AS score,
             |    row_number() OVER (PARTITION BY q.vec_id
             |      ORDER BY ${frs("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} DESC, c.vec_id) AS rn
             |  FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |  WHERE q.vec_id < 10
             |    AND list_sum(list_transform(q.embedding::DOUBLE[], x -> x*x)) > 0
             |    AND list_sum(list_transform(c.embedding::DOUBLE[], x -> x*x)) > 0)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    "q26_norm_stats" -> Q(
      (s, dir) => {
        Tables.embeddings(s, dir)
          .groupBy("label")
          .agg(count(lit(1)).as("n"),
            fr(avg(l2Norm(col("embedding"))), 6).as("avg_norm"),
            fr(min(l2Norm(col("embedding"))), 6).as("min_norm"),
            fr(max(l2Norm(col("embedding"))), 6).as("max_norm"))
          .orderBy("label")
      },
      Some(s"""SELECT label, count(*) AS n,
             |  ${frs("avg(n2)", 6)} AS avg_norm, ${frs("min(n2)", 6)} AS min_norm, ${frs("max(n2)", 6)} AS max_norm
             |FROM (SELECT label, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |  list_transform(embedding::DOUBLE[], x -> x*x)), (acc, x) -> acc + x)) AS n2
             |  FROM embeddings)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ANN: LSH-bucketed approximate top-k — the 100 TB path (bucket equi-join
    // instead of full cross product). nbits scales with the corpus
    // (AnnIndex.autoNbits) and the integer-hash hyperplanes are mirrored in
    // SQL, so the approximate answer itself is oracle-checked; recall vs the
    // exact q25 answer is additionally unit-tested.
    "q27_ann_lsh_topk" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // count() is one cheap metadata-ish job that fixes the bucket policy;
        // the oracle derives the same nbits from the same table in SQL
        val nbits = AnnIndex.autoNbits(emb.count())
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        AnnIndex.annTopK(queries, "q_id", "q_vec",
          emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
          k = 3, nbits = nbits, dim = 64)
      },
      Some(s"""$annLshCtes
             |SELECT q_id, c_id, score, rn FROM (
             |  SELECT q_id, c_id, ${frs("list_cosine_similarity(qv, cv)", 6)} AS score,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
             |  FROM cand)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // RANKING-QUALITY EVALUATION (IR metrics) of the deployed LSH ANN
    // against exact-cosine truth: per query, precision@10, MRR, nDCG@10.
    // The recall audits (q135/q177/q197) measure WHETHER the truth arrives
    // in the candidate set; this measures WHERE the index RANKS it — the
    // report a retrieval deployment actually publishes. Every DCG is a
    // left fold over an explicitly sorted rank list (Spark aggregate ≡
    // DuckDB list_reduce, the q26 pattern), so the float addition order is
    // pinned and the metric values themselves are hash-checked.
    "q228_retrieval_eval" -> Q(
      (s, dir) => lshRetrievalEval(s, dir),
      Some(lshRetrievalEvalOracle)),

    // GRADED-relevance nDCG for the same deployed index (r13 verdict task
    // 7): binary gains say only whether a truth doc arrived; graded gains
    // (2^g − 1, Järvelin & Kekäläinen nDCG with the LambdaRank gain) weight
    // WHICH truth docs the index surfaces — grade 3 for the exact-cosine
    // top-2, 2 for ranks 3–5, 1 for 6–10 (integer CASE on the exact rank,
    // bit-identical across engines). An index that finds only the tail of
    // the truth set scores visibly lower than one that keeps the head.
    // Contributions fold in pinned order on both sides (rank order for DCG,
    // grade-descending for IDCG), so the graded metrics hash-match.
    "q232_retrieval_eval_graded" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val nbits = AnnIndex.autoNbits(emb.count())
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val sys = AnnIndex.annTopK(queries, "q_id", "q_vec",
          emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
          k = 10, nbits = nbits, dim = 64)
        val truth = TopK.knnJoin(queries, "q_id", "q_vec",
            emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding", k = 10)
          .select(col("q_id"), col("c_id"),
            when(col("rn") <= 2, 3L).when(col("rn") <= 5, 2L)
              .otherwise(1L).as("grade"))
        graft.operators.Retrieval.rankingEvalGraded(
          sys, truth, "q_id", "c_id", "rn", "grade", k = 10)
      },
      Some(s"""$annLshCtes,
             |$lshSysrCte,
             |tru AS (
             |  SELECT q_id, c_id,
             |    CASE WHEN rn <= 2 THEN 3 WHEN rn <= 5 THEN 2 ELSE 1 END AS grade
             |  FROM (
             |    $lshTruRankedSql)
             |  WHERE rn <= 10),
             |${graft.operators.Retrieval.rankingEvalGradedTailSql(10, "q_id", "c_id")}""".stripMargin)),

    // Macro summary of the q228 report card — the one-row number a
    // deployment dashboard shows (mean precision@10 / MRR / nDCG@10 over
    // the query set). The means are ordered folds over value-sorted lists
    // (same determinism rule as the per-query DCGs), so even the averages
    // hash-match.
    "q230_retrieval_eval_summary" -> Q(
      (s, dir) => graft.operators.Retrieval.rankingEvalSummary(
        lshRetrievalEval(s, dir)),
      Some {
        def m(c: String) = frs(
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_sort(list($c))), (a, x) -> a + x)" +
            " / CAST(count(*) AS DOUBLE)", 6)
        s"""WITH ev AS (
           |$lshRetrievalEvalOracle
           |)
           |SELECT CAST(count(*) AS BIGINT) AS n_queries,
           |  ${m("p_at_k")} AS mean_p_at_k,
           |  ${m("mrr")} AS mean_mrr,
           |  ${m("ndcg")} AS mean_ndcg
           |FROM ev""".stripMargin
      }),

    // The SAME report card for the STREAMED topology: q151's stream-static
    // IVF-PQ probe ranked by ADC distance, evaluated against the EXACT
    // squared-L2 top-3 (the metric PQ approximates — q136's truth). Fills
    // the eval × streaming matrix cell: the metrics a deployment publishes
    // about its INGEST-path index, not just the batch one. Shares the
    // metric tail with q228 so the arithmetic cannot drift.
    "q229_stream_retrieval_eval" -> Q(
      (s, dir) => {
        val sys = graft.streaming.StreamingAnn.pqProbeTopK(
          s, dir, k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
          codebooks = Some(pqTrainedCodebooks(s, dir)))
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val c = emb.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val truth = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select("q_id", "c_id")
        graft.operators.Retrieval.rankingEval(sys, truth, "q_id", "c_id", "rn", k = 3)
      },
      Some {
        val sq = (v: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($v, x -> x*x)), (a, x) -> a + x)"
        val d2 = s"${sq("q.embedding::DOUBLE[]")} + ${sq("c.embedding::DOUBLE[]")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
        s"""$pqCtes,
           |sysr AS (
           |  SELECT q_id, c_id, rn FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
           |    FROM adist)
           |  WHERE rn <= 3),
           |tru AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 10)
           |  WHERE rn <= 3),
           |${rankingEvalTailSql(3)}""".stripMargin
      }),

    // Exact all-pairs cosine >= threshold on a fixed-size sample — the oracle
    // anchor for embedding-space near-dup (q28 is the LSH scale path).
    "q39_cosine_pairs_exact" -> Q(
      (s, dir) => {
        // deliberately NOT cached: 500 rows of nested arrays take the slow
        // generic path through the columnar cache (measured ~half of this
        // query's cost) — re-scanning the pruned parquet per join branch is
        // cheaper than one cache round-trip
        val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
          .select(col("vec_id"), col("embedding"))
          .withColumn("__nsq", l2NormSq(col("embedding")))
        val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("vec_a"), col("__nsq").as("__nsq_a"))
        val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("vec_b"), col("__nsq").as("__nsq_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("score", fr(cosineFromNormSq(col("vec_a"), col("vec_b"), col("__nsq_a"), col("__nsq_b")), 6))
          .filter(col("score") >= 0.2)
          .select("id_a", "id_b", "score")
          .orderBy("id_a", "id_b")
      },
      Some(s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  ${frs("list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])", 6)} AS score
             |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
             |WHERE a.vec_id < 500 AND b.vec_id < 500
             |  AND list_sum(list_transform(a.embedding::DOUBLE[], x -> x*x)) > 0
             |  AND list_sum(list_transform(b.embedding::DOUBLE[], x -> x*x)) > 0
             |  AND ${frs("list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])", 6)} >= 0.2
             |ORDER BY 1, 2""".stripMargin)),

    // int8 quantization round-trip: scale, quantized range, and max
    // reconstruction error per vector (scalar outputs => oracle-friendly).
    "q49_quantization" -> Q(
      (s, dir) => {
        // __scale/__q materialized as columns (referenced multiple times
        // below) so CollapseProject doesn't inline + re-evaluate the O(dim)
        // transforms per output column
        val staged = Tables.embeddings(s, dir)
          .select(col("vec_id"), asDouble(col("embedding")).as("__v"))
          .withColumn("__scale", quantScale(col("__v")))
          .withColumn("__q", quantizeInt8(col("__v"), col("__scale")))
        staged
          .select(col("vec_id"), fr(col("__scale"), 6).as("scale"),
            array_min(col("__q")).as("q_min"), array_max(col("__q")).as("q_max"),
            fr(array_max(zip_with(col("__v"), dequantizeInt8(col("__q"), col("__scale")),
              (x, d) => abs(x - d))), 6).as("max_err"))
          .orderBy("vec_id")
      },
      Some(s"""WITH base AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS scale
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, scale, v,
             |    list_transform(v, x -> CASE WHEN scale > CAST(0.0 AS DOUBLE)
             |      THEN CAST(floor(x / scale * CAST(127.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             |      ELSE CAST(0 AS BIGINT) END) AS qv
             |  FROM base),
             |err AS (
             |  SELECT vec_id, max(abs(x - CAST(qq AS DOUBLE) / CAST(127.0 AS DOUBLE) * scale)) AS e
             |  FROM (SELECT vec_id, scale, unnest(v) AS x, unnest(qv) AS qq FROM q)
             |  GROUP BY 1)
             |SELECT q.vec_id, ${frs("q.scale", 6)} AS scale,
             |  list_min(qv) AS q_min, list_max(qv) AS q_max, ${frs("err.e", 6)} AS max_err
             |FROM q JOIN err ON q.vec_id = err.vec_id
             |ORDER BY q.vec_id""".stripMargin)),

    // IVF ANN: coarse-quantized candidate cells, nprobe-cell probing. The
    // second classic ANN scale path next to hyperplane LSH (q27). The coarse
    // centroids are the nlist lowest-id corpus vectors, so cell assignment
    // (argmin |c|²−2·v·c, tie-break by cell id) is exactly mirrorable in SQL.
    "q40_ann_ivf_topk" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        AnnIndex.ivfTopK(queries, "q_id", "q_vec",
          emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
          k = 3, nlist = 16, nprobe = 4)
      },
      Some(s"""$annIvfCtes
             |SELECT q_id, c_id, score, rn FROM (
             |  SELECT q_id, c_id, ${frs("list_cosine_similarity(qv, cv)", 6)} AS score,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
             |  FROM cand)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // Embedding-cosine near-dup pairs (LSH candidates, multiprobe hamming-1).
    // Threshold is fixture-calibrated: the synthetic embeddings are random
    // (max pairwise cosine ~0.4), so 0.2 plays the role 0.95 would on a real
    // corpus of near-duplicate embeddings. Same SQL-expressible hyperplanes
    // as q27 => oracle-checked.
    "q28_embedding_near_dup" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        AnnIndex.cosineNearDupPairs(emb, "vec_id", "embedding",
          threshold = 0.2, nbits = AnnIndex.autoNbits(emb.count()), dim = 64)
      },
      Some(s"""WITH params AS (
             |  SELECT greatest(4, coalesce((
             |    SELECT min(b) FROM (SELECT unnest(generate_series(0, 20)) AS b) bs
             |    WHERE (CAST(128 AS BIGINT) << CAST(b AS INTEGER)) >= (SELECT count(*) FROM embeddings)), 20)) AS nbits),
             |planes AS (
             |  SELECT list(list_transform(generate_series(0, 63), d ->
             |      CAST(((j*64+d+1)*(j*64+d+1) * 2654435761 + 97*(j*64+d+1) + 12345) % 1000003
             |        - 501001 AS DOUBLE)) ORDER BY j) AS ws
             |  FROM (SELECT unnest(generate_series(0, (SELECT nbits FROM params) - 1)) AS j)),
             |buck AS (
             |  SELECT vec_id, embedding::DOUBLE[] AS v,
             |    list_sum(list_transform(generate_series(1, params.nbits),
             |      j -> CASE WHEN list_inner_product(embedding::DOUBLE[], planes.ws[j]) >= CAST(0.0 AS DOUBLE)
             |           THEN (CAST(1 AS BIGINT) << (j-1)) ELSE CAST(0 AS BIGINT) END)) AS bucket
             |  FROM embeddings, planes, params)
             |SELECT id_a, id_b, score FROM (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    ${frs("list_cosine_similarity(a.v, b.v)", 6)} AS score
             |  FROM buck a JOIN buck b
             |    ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
             |  WHERE list_sum(list_transform(a.v, x -> x*x)) > 0
             |    AND list_sum(list_transform(b.v, x -> x*x)) > 0)
             |WHERE score >= CAST(0.2 AS DOUBLE) ORDER BY 1, 2""".stripMargin)),

    // Johnson–Lindenstrauss random projection 64 → 16 dims (same integer-hash
    // plane family as the LSH buckets, so every projected component is
    // oracle-checked bit-exactly). One flat column per component keeps the
    // whole projection in a single WholeStageCodegen span (no explode).
    "q67_random_projection" -> Q(
      (s, dir) => AnnIndex.randomProjectionWide(
          Tables.embeddings(s, dir), "vec_id", "embedding", outDim = 16, dim = 64)
        .orderBy("vec_id"),
      Some {
        // norm literals computed driver-side from the same plane family;
        // Double.toString round-trips through DuckDB's parser to the same
        // bits, so the division matches the Spark side exactly
        val norms = AnnIndex.hyperplanes(16, 64)
          .map(p => math.sqrt(p.map(x => x * x).sum) * math.sqrt(16.0))
        val comps = norms.zipWithIndex.map { case (n, j) =>
          frs(s"list_inner_product(embedding::DOUBLE[], planes.ws[${j + 1}]) / CAST($n AS DOUBLE)", 6) + s" AS c$j"
        }.mkString(",\n           |  ")
        s"""WITH planes AS (
           |  SELECT list(list_transform(generate_series(0, 63), d ->
           |      CAST(((j*64+d+1)*(j*64+d+1) * 2654435761 + 97*(j*64+d+1) + 12345) % 1000003
           |        - 501001 AS DOUBLE)) ORDER BY j) AS ws
           |  FROM (SELECT unnest(generate_series(0, 15)) AS j))
           |SELECT vec_id,
           |  $comps
           |FROM embeddings, planes
           |ORDER BY vec_id""".stripMargin
      }),

    // "Project once, search many": exact kNN in the 16-dim PROJECTED space —
    // each pair costs dim/outDim (4×) less than q25's 64-dim search, the JL
    // payoff. Projected components are floor-rounded, so both engines search
    // over IDENTICAL doubles and the ranking verifies exactly.
    "q70_projected_knn" -> Q(
      (s, dir) => {
        val proj = AnnIndex.randomProjection(
          Tables.embeddings(s, dir), "vec_id", "embedding", outDim = 16, dim = 64)
        val queries = proj.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("proj").as("q_vec"))
        TopK.knnJoin(queries, "q_id", "q_vec",
            proj.withColumnRenamed("vec_id", "c_id"), "c_id", "proj", k = 5)
          .withColumn("rn", col("rn").cast("long"))
          .select("q_id", "c_id", "score", "rn")
          .orderBy("q_id", "rn")
      },
      Some {
        val norms = AnnIndex.hyperplanes(16, 64)
          .map(p => math.sqrt(p.map(x => x * x).sum) * math.sqrt(16.0))
        val comps = norms.zipWithIndex.map { case (n, j) =>
          frs(s"list_inner_product(embedding::DOUBLE[], planes.ws[${j + 1}]) / CAST($n AS DOUBLE)", 6)
        }.mkString(",\n           |    ")
        s"""WITH planes AS (
           |  SELECT list(list_transform(generate_series(0, 63), d ->
           |      CAST(((j*64+d+1)*(j*64+d+1) * 2654435761 + 97*(j*64+d+1) + 12345) % 1000003
           |        - 501001 AS DOUBLE)) ORDER BY j) AS ws
           |  FROM (SELECT unnest(generate_series(0, 15)) AS j)),
           |proj AS (
           |  SELECT vec_id, list_value(
           |    $comps) AS pv
           |  FROM embeddings, planes)
           |SELECT q_id, c_id, score, rn FROM (
           |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |    ${frs("list_cosine_similarity(q.pv, c.pv)", 6)} AS score,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${frs("list_cosine_similarity(q.pv, c.pv)", 6)} DESC, c.vec_id) AS rn
           |  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
           |  WHERE q.vec_id < 10
           |    AND list_sum(list_transform(q.pv, x -> x*x)) > 0
           |    AND list_sum(list_transform(c.pv, x -> x*x)) > 0)
           |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
      }),

    // ANN index-quality report: recall@3 of the LSH index against the exact
    // top-3, per query — the evaluation every production ANN deployment
    // ships with. Both sides are oracle-checked queries themselves, so the
    // RECALL NUMBER is oracle-checked too.
    "q76_ann_recall" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val nbits = AnnIndex.autoNbits(emb.count())
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val ann = AnnIndex.annTopK(queries, "q_id", "q_vec",
            emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
            k = 3, nbits = nbits, dim = 64)
          .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
        val exact = TopK.knnJoin(queries, "q_id", "q_vec",
            emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding", k = 3)
          .select("q_id", "c_id")
        exact.join(ann, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
            fr(sum(coalesce(col("__hit"), lit(0))).cast("double") / lit(3.0), 4).as("recall"))
          .orderBy("q_id")
      },
      Some(s"""$annLshCtes,
             |ann AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q_id, c_id,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
             |    FROM cand)
             |  WHERE rn <= 3),
             |exact AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY ${frs("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} DESC, c.vec_id) AS rn
             |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |    WHERE q.vec_id < 10
             |      AND list_sum(list_transform(q.embedding::DOUBLE[], x -> x*x)) > 0
             |      AND list_sum(list_transform(c.embedding::DOUBLE[], x -> x*x)) > 0)
             |  WHERE rn <= 3)
             |SELECT q_id, count(*) AS n_exact,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  ${frs("CAST(sum(hit) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall
             |FROM (
             |  SELECT e.q_id, CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM exact e LEFT JOIN ann a ON a.q_id = e.q_id AND a.c_id = e.c_id)
             |GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // Same recall audit for the IVF index (nlist=16, nprobe=4) — lets a user
    // compare the two ANN structures' recall/cost on their own corpus.
    "q78_ivf_recall" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val ivf = AnnIndex.ivfTopK(queries, "q_id", "q_vec",
            emb.select(col("vec_id").as("c_id"), col("embedding")), "c_id", "embedding",
            k = 3, nlist = 16, nprobe = 4)
          .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
        val exact = TopK.knnJoin(queries, "q_id", "q_vec",
            emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding", k = 3)
          .select("q_id", "c_id")
        exact.join(ivf, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
            fr(sum(coalesce(col("__hit"), lit(0))).cast("double") / lit(3.0), 4).as("recall"))
          .orderBy("q_id")
      },
      Some(s"""$annIvfCtes,
             |ann AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q_id, c_id,
             |      row_number() OVER (PARTITION BY q_id
             |        ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
             |    FROM cand)
             |  WHERE rn <= 3),
             |exact AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY ${frs("list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[])", 6)} DESC, c.vec_id) AS rn
             |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
             |    WHERE q.vec_id < 10
             |      AND list_sum(list_transform(q.embedding::DOUBLE[], x -> x*x)) > 0
             |      AND list_sum(list_transform(c.embedding::DOUBLE[], x -> x*x)) > 0)
             |  WHERE rn <= 3)
             |SELECT q_id, count(*) AS n_exact,
             |  CAST(sum(hit) AS BIGINT) AS n_hit,
             |  ${frs("CAST(sum(hit) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall
             |FROM (
             |  SELECT e.q_id, CASE WHEN a.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit
             |  FROM exact e LEFT JOIN ann a ON a.q_id = e.q_id AND a.c_id = e.c_id)
             |GROUP BY q_id ORDER BY q_id""".stripMargin)),

    // SemDeDup semantic dedup: IVF-cell-scoped cosine pairs, keep-first drop.
    // Candidate pairs are an equi-join on the cell id — O(n²/nlist) work in
    // nlist independent cells, the embedding-space dedup that scales where a
    // global pair join cannot. Threshold 0.2 is fixture-calibrated like q28.
    "q83_semantic_dedup" -> Q(
      (s, dir) => AnnIndex.semanticDedup(
          Tables.embeddings(s, dir).select("vec_id", "label", "embedding"),
          "vec_id", "embedding", threshold = 0.2, nlist = 16)
        .select("vec_id", "label", "cell")
        .orderBy("vec_id"),
      Some(s"""$ivfAssignCtes,
             |pairs AS (
             |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
             |  WHERE list_sum(list_transform(a.v, x -> x*x)) > 0
             |    AND list_sum(list_transform(b.v, x -> x*x)) > 0
             |    AND ${frs("list_cosine_similarity(a.v, b.v)", 6)} >= CAST(0.2 AS DOUBLE))
             |SELECT e.vec_id, e.label, s.cell
             |FROM embeddings e JOIN assign s ON e.vec_id = s.vec_id
             |WHERE e.vec_id NOT IN (SELECT id_b FROM pairs)
             |ORDER BY e.vec_id""".stripMargin)),

    // Contrastive triplet mining: per anchor (vec_id % 50 = 0), top-5 cosine
    // positives + 5 hash-picked negatives — the deterministic
    // (anchor, pos, neg) feed of contrastive/distillation training.
    "q103_contrastive_pairs" -> Q(
      (s, dir) => graft.operators.Contrastive.minePairs(
        Tables.embeddings(s, dir), "vec_id", "embedding",
        anchorMod = 50L, kPos = 5, kNeg = 5),
      Some {
        val pri = graft.operators.Sampling.hashUniformSql("(s.anchor_id * 1000003 + s.pair_id)")
        s"""WITH e AS (
           |  SELECT vec_id, embedding FROM embeddings
           |  WHERE list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) > 0),
           |a AS (SELECT vec_id AS anchor_id, embedding AS av FROM e WHERE vec_id % 50 = 0),
           |scored AS (
           |  SELECT anchor_id, e.vec_id AS pair_id,
           |    ${frs("list_cosine_similarity(e.embedding::DOUBLE[], av::DOUBLE[])", 6)} AS score
           |  FROM a JOIN e ON e.vec_id <> anchor_id),
           |pos AS (
           |  SELECT anchor_id, pair_id, score,
           |    row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, pair_id) AS pair_rank
           |  FROM scored QUALIFY pair_rank <= 5),
           |neg AS (
           |  SELECT s.anchor_id, s.pair_id, s.score,
           |    row_number() OVER (PARTITION BY s.anchor_id ORDER BY $pri, s.pair_id) AS pair_rank
           |  FROM scored s
           |  WHERE NOT EXISTS (SELECT 1 FROM pos p
           |    WHERE p.anchor_id = s.anchor_id AND p.pair_id = s.pair_id)
           |  QUALIFY pair_rank <= 5)
           |SELECT anchor_id, pair_id, 'pos' AS kind, CAST(pair_rank AS BIGINT) AS pair_rank, score FROM pos
           |UNION ALL
           |SELECT anchor_id, pair_id, 'neg' AS kind, CAST(pair_rank AS BIGINT) AS pair_rank, score FROM neg
           |ORDER BY anchor_id, kind, pair_rank""".stripMargin
      }),

    // IVF-PQ: coarse-cell candidates scored by product-quantized codes via a
    // per-query asymmetric distance table — m lookups+adds per candidate, no
    // vector arithmetic in the scan. Scores are reconstructed SQUARED L2
    // distances (ascending); code assignment and reconstruction verify in
    // exact arithmetic against the DuckDB merge of the same codebooks.
    "q135_pq_topk" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        AnnIndex.pqTopK(queries, "q_id", "q_vec",
          emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
          codebooks = Some(pqTrainedCodebooks(s, dir)))
      },
      Some(pqTopKOracle)),

    // The same IVF-PQ probe through the STREAMING engine: queries arrive as
    // a structured stream, probe the standing encoded corpus via a
    // stream-static join (stateless ADC scoring, batch-side ranking of the
    // drained candidates). Both topologies compose AnnIndex.pqParts, so the
    // result must be row-identical to q135 — same oracle SQL proves stream
    // ≡ batch.
    "q151_stream_pq_probe" -> Q(
      (s, dir) => graft.streaming.StreamingAnn.pqProbeTopK(
        s, dir, k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
        codebooks = Some(pqTrainedCodebooks(s, dir))),
      Some(pqTopKOracle)),

    // Incremental IVF maintenance: the standing index (vec_id < 400) plus a
    // delta assigned against the STANDING centroids must equal the full
    // rebuild — the oracle IS the full-table assignment. Holds because the
    // deterministic lowest-id centroids (ids 0..15) are untouched by the
    // delta; the delta pass costs O(delta · nlist), never a corpus rescan.
    "q156_ivf_incremental_assign" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val corpus = emb.filter(col("vec_id") < 400)
        val delta  = emb.filter(col("vec_id") >= 400)
        AnnIndex.ivfAssign(corpus, corpus, "vec_id", "embedding", nlist = 16)
          .unionByName(AnnIndex.ivfAssign(delta, corpus, "vec_id", "embedding", nlist = 16))
          .orderBy("vec_id")
      },
      Some(s"""$ivfAssignCtes
             |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM assign
             |ORDER BY vec_id""".stripMargin)),

    // Recall@3 of the IVF-PQ index against the EXACT squared-L2 top-3 (the
    // metric PQ approximates), measured two ways: raw ADC ranking, and the
    // production IVFADC-R shape — ADC shortlist (32) reranked with exact
    // distances, which recovers most of the quantization loss at the cost of
    // 32 true distance computations per query. Both sides are oracle-checked,
    // so the recall numbers are too. (The fixture embeddings are weakly
    // clustered, near PQ's worst case — raw ADC recall is honestly low;
    // rerank is the measured fix.)
    "q136_pq_recall" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val short = AnnIndex.pqTopK(queries, "q_id", "q_vec",
            emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding",
            k = 32, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
            codebooks = Some(pqTrainedCodebooks(s, dir)))
        val pqHits = short.filter(col("rn") <= 3)
          .select(col("q_id"), col("c_id"), lit(1).as("__hit"))
        val c = emb.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        def exactD2(df: org.apache.spark.sql.DataFrame) = df.withColumn("d2",
          fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
        val rrHits = exactD2(short.select("q_id", "c_id")
            .join(c, Seq("c_id")).join(broadcast(q), Seq("q_id")))
          .withColumn("rr", row_number().over(w))
          .filter(col("rr") <= 3)
          .select(col("q_id"), col("c_id"), lit(1).as("__hit_rr"))
        val exact = exactD2(c.join(broadcast(q), col("q_id") =!= col("c_id")))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("q_id", "c_id")
        exact.join(pqHits, Seq("q_id", "c_id"), "left")
          .join(rrHits, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_hit"),
            sum(coalesce(col("__hit_rr"), lit(0))).cast("long").as("n_hit_rr"),
            fr(sum(coalesce(col("__hit"), lit(0))).cast("double") / lit(3.0), 4).as("recall"),
            fr(sum(coalesce(col("__hit_rr"), lit(0))).cast("double") / lit(3.0), 4).as("recall_rr"))
          .orderBy("q_id")
      },
      Some {
        val sq = (v: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($v, x -> x*x)), (a, x) -> a + x)"
        val d2 = s"${sq("q.embedding::DOUBLE[]")} + ${sq("c.embedding::DOUBLE[]")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
        s"""$pqCtes,
           |short AS (
           |  SELECT q_id, c_id, rn FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
           |    FROM adist)
           |  WHERE rn <= 32),
           |rr AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT s.q_id, s.c_id,
           |      row_number() OVER (PARTITION BY s.q_id
           |        ORDER BY ${frs(d2, 6)}, s.c_id) AS rrn
           |    FROM short s JOIN embeddings q ON q.vec_id = s.q_id
           |                 JOIN embeddings c ON c.vec_id = s.c_id)
           |  WHERE rrn <= 3),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 10)
           |  WHERE rn <= 3)
           |SELECT q_id, count(*) AS n_exact,
           |  CAST(sum(hit) AS BIGINT) AS n_hit,
           |  CAST(sum(hit_rr) AS BIGINT) AS n_hit_rr,
           |  ${frs("CAST(sum(hit) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall,
           |  ${frs("CAST(sum(hit_rr) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_rr
           |FROM (
           |  SELECT e.q_id,
           |    CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
           |    CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_rr
           |  FROM exact e
           |  LEFT JOIN (SELECT q_id, c_id FROM short WHERE rn <= 3) p
           |    ON p.q_id = e.q_id AND p.c_id = e.c_id
           |  LEFT JOIN rr r ON r.q_id = e.q_id AND r.c_id = e.c_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      }),

    // RESIDUAL IVF-PQ top-k (q135's variant with the encoding the Jégou
    // paper actually specifies): codes quantize v − centroid(cell), the
    // query pays one ADC table per probed cell. Fully SQL-mirrored —
    // residual training, encoding, and per-cell ADC all verify in exact
    // arithmetic.
    "q164_pq_residual_topk" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        AnnIndex.pqResidualTopK(queries, "q_id", "q_vec",
          emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
          codebooks = Some(pqResidualTrainedCodebooks(s, dir)))
      },
      Some(pqResidualTopKOracle)),

    // Recall@3 of residual vs raw-vector PQ under identical coarse cells,
    // probes, and code budget — the measured answer to "does residual
    // encoding recover recall HERE": both chains and the exact reference
    // are oracle-checked, so the per-query delta is too. Measured result on
    // this fixture (sf0.01): raw 0.27 vs residual 0.17 mean recall@3 — the
    // fixture embeddings are weakly clustered (near-uniform), so residuals
    // spread as wide as the raw vectors and the residual codebooks buy
    // nothing; the operator exists because clustered production corpora are
    // the case the construction targets (Jégou et al. §V), and this audit
    // is what would show the gain there.
    "q165_pq_residual_recall" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val corpus = emb.withColumnRenamed("vec_id", "c_id")
        def top3(f: => org.apache.spark.sql.DataFrame, hit: String) =
          f.select(col("q_id"), col("c_id"), lit(1).as(hit))
        val raw3 = top3(AnnIndex.pqTopK(queries, "q_id", "q_vec", corpus, "c_id", "embedding",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
          codebooks = Some(pqTrainedCodebooks(s, dir))), "__hit_raw")
        val res3 = top3(AnnIndex.pqResidualTopK(queries, "q_id", "q_vec", corpus, "c_id", "embedding",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 16, nprobe = 4,
          codebooks = Some(pqResidualTrainedCodebooks(s, dir))), "__hit_res")
        val c = emb.select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val exact = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("q_id", "c_id")
        exact.join(raw3, Seq("q_id", "c_id"), "left")
          .join(res3, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit_raw"), lit(0))).cast("long").as("n_hit_raw"),
            sum(coalesce(col("__hit_res"), lit(0))).cast("long").as("n_hit_res"),
            fr(sum(coalesce(col("__hit_raw"), lit(0))).cast("double") / lit(3.0), 4).as("recall_raw"),
            fr(sum(coalesce(col("__hit_res"), lit(0))).cast("double") / lit(3.0), 4).as("recall_res"))
          .orderBy("q_id")
      },
      Some {
        val sq = (v: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform($v, x -> x*x)), (a, x) -> a + x)"
        val d2 = s"${sq("q.embedding::DOUBLE[]")} + ${sq("c.embedding::DOUBLE[]")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])"
        s"""$pqCtes,
           |$pqResidualChain,
           |rawt AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
           |    FROM adist)
           |  WHERE rn <= 3),
           |rest AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q_id, c_id,
           |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
           |    FROM radist)
           |  WHERE rn <= 3),
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 10)
           |  WHERE rn <= 3)
           |SELECT q_id, count(*) AS n_exact,
           |  CAST(sum(hit_raw) AS BIGINT) AS n_hit_raw,
           |  CAST(sum(hit_res) AS BIGINT) AS n_hit_res,
           |  ${frs("CAST(sum(hit_raw) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_raw,
           |  ${frs("CAST(sum(hit_res) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_res
           |FROM (
           |  SELECT e.q_id,
           |    CASE WHEN p.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_raw,
           |    CASE WHEN r.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_res
           |  FROM exact e
           |  LEFT JOIN rawt p ON p.q_id = e.q_id AND p.c_id = e.c_id
           |  LEFT JOIN rest r ON r.q_id = e.q_id AND r.c_id = e.c_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      }),

    // Metadata-filtered vector search (the filter+ANN composition every
    // vector store ships): neighbors restricted to label = 3 via
    // PRE-filtering — the IVF index (centroids, cells, candidates) is built
    // over the filtered corpus, so probe work scales with the filtered size
    // and recall does not collapse for selective filters the way
    // post-filtering a fixed top-k does.
    "q140_filtered_ann" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        AnnIndex.ivfTopK(queries, "q_id", "q_vec",
          emb.filter(col("label") === 3)
            .select(col("vec_id").as("c_id"), col("embedding")),
          "c_id", "embedding", k = 3, nlist = 16, nprobe = 4)
      },
      Some(s"""WITH femb AS (SELECT * FROM embeddings WHERE label = 3),
             |cents AS (
             |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci,
             |    embedding::DOUBLE[] AS cv,
             |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |      list_transform(embedding::DOUBLE[], x -> x*x)), (a, x) -> a + x) AS c2
             |  FROM femb ORDER BY vec_id LIMIT 16),
             |assign AS (
             |  SELECT vec_id, v, cell FROM (
             |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.ci AS cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
             |    FROM femb e CROSS JOIN cents c)
             |  WHERE rn = 1),
             |probes AS (
             |  SELECT vec_id AS q_id, v AS qv, cell FROM (
             |    SELECT e.vec_id, e.embedding::DOUBLE[] AS v, c.ci AS cell,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(e.embedding::DOUBLE[], c.cv), c.ci) AS rn
             |    FROM embeddings e CROSS JOIN cents c WHERE e.vec_id < 10)
             |  WHERE rn <= 4),
             |cand AS (
             |  SELECT p.q_id, a.vec_id AS c_id, p.qv, a.v AS cv
             |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.q_id <> a.vec_id
             |  WHERE list_sum(list_transform(p.qv, x -> x*x)) > 0
             |    AND list_sum(list_transform(a.v, x -> x*x)) > 0)
             |SELECT q_id, c_id, score, rn FROM (
             |  SELECT q_id, c_id, ${frs("list_cosine_similarity(qv, cv)", 6)} AS score,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY ${frs("list_cosine_similarity(qv, cv)", 6)} DESC, c_id) AS rn
             |  FROM cand)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // MMR diversified rerank: top-20 relevance shortlist for query vec 0,
    // then 5 greedy λ=0.7 MMR selections. The oracle unrolls the greedy loop
    // as SQL stages over the same floor-rounded relevance and similarity
    // values, so the SELECTION ORDER itself is hash-checked.
    "q141_mmr_rerank" -> Q(
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val qv = emb.filter(col("vec_id") === 0)
          .select(asDouble(col("embedding"))).head().getSeq[Double](0)
        graft.operators.Retrieval.mmrRerank(
          emb.filter(col("vec_id") =!= 0).select(col("vec_id"), col("embedding")),
          "vec_id", "embedding", qv, shortK = 20, k = 5,
          lambda = 0.7, oneMinusLambda = 0.3)
      },
      Some {
        val k = 5
        val stages = (1 to k).map { i =>
          if (i == 1) "s1 AS (SELECT id, rel FROM shortlist ORDER BY rel DESC, id LIMIT 1)"
          else {
            val prev = (1 until i).map(j => s"SELECT id FROM s$j").mkString(" UNION ALL ")
            s"""s$i AS (
               |  SELECT c.id, c.rel FROM shortlist c
               |  WHERE c.id NOT IN ($prev)
               |  ORDER BY CAST(0.7 AS DOUBLE) * c.rel - CAST(0.3 AS DOUBLE) *
               |    (SELECT max(s.sim) FROM sims s WHERE s.a = c.id AND s.b IN ($prev)) DESC, c.id
               |  LIMIT 1)"""
          }
        }.mkString(",\n")
        val union = (1 to k).map(i =>
          s"SELECT CAST($i AS BIGINT) AS sel_rank, id AS vec_id, rel FROM s$i")
          .mkString("\nUNION ALL\n")
        s"""WITH shortlist AS (
           |  SELECT vec_id AS id,
           |    ${frs("list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0))", 6)} AS rel
           |  FROM embeddings WHERE vec_id <> 0
           |    AND list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) > 0
           |  ORDER BY rel DESC, vec_id LIMIT 20),
           |sv AS (SELECT s.id, e.embedding::DOUBLE[] AS v
           |       FROM shortlist s JOIN embeddings e ON e.vec_id = s.id),
           |sims AS (
           |  SELECT a.id AS a, b.id AS b, ${frs("list_cosine_similarity(a.v, b.v)", 6)} AS sim
           |  FROM sv a JOIN sv b ON a.id <> b.id),
           |$stages
           |$union
           |ORDER BY sel_rank""".stripMargin
      }),

    // IVF over the clustered corpus with LLOYD-TRAINED coarse centroids
    // (replacing the lowest-id placeholder policy, verdict r10 task 1): the
    // oracle independently re-trains the k-means step (init → assign →
    // floor-rounded means → re-assign), so the trained quantizer itself is
    // hash-checked, not just the search that uses it.
    "q177_clustered_ivf_kmeans" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val qs = cf.filter(col("vec_id") < 10)
          .select(col("vec_id").as("q_id"), col("cvec").as("q_vec"))
        AnnIndex.ivfTopK(qs, "q_id", "q_vec",
          cf.select(col("vec_id").as("c_id"), col("cvec")), "c_id", "cvec",
          k = 3, nlist = 32, nprobe = 4, coarseCentroids = Some(cents.map(_.toSeq)))
      },
      Some {
        val cos = s"list_inner_product(p.qv, a.v) / (sqrt(${sqSql("p.qv")}) * sqrt(${sqSql("a.v")}))"
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |qprobes AS (
           |  SELECT q_id, cell, qv FROM (
           |    SELECT f.vec_id AS q_id, f.v AS qv, c.ci AS cell,
           |      row_number() OVER (PARTITION BY f.vec_id
           |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
           |    FROM cf f CROSS JOIN cents c WHERE f.vec_id < 10)
           |  WHERE rn <= 4)
           |SELECT q_id, c_id, score, rn FROM (
           |  SELECT q_id, c_id, score,
           |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rn
           |  FROM (
           |    SELECT p.q_id, a.vec_id AS c_id, ${frs(cos, 6)} AS score
           |    FROM qprobes p JOIN asg a ON p.cell = a.cell AND p.q_id <> a.vec_id))
           |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
      }),

    // The OPQ recall audit (verdict r10 "done" criterion): raw PQ vs
    // residual PQ vs residual+OPQ under IDENTICAL trained coarse cells,
    // probes, and code budget (m=16, ksub=16) on the clustered corpus,
    // scored against the exact top-3. All three chains AND the exact
    // reference are oracle-checked, so the per-query recall deltas are too.
    // Measured at sf0.01 (500 rows, 20 queries): mean recall@3 raw 0.18 <
    // residual 0.60 < residual+OPQ 0.88 (total hits 11/36/53 of 60;
    // OpqSpec pins the strict aggregate ordering) — the inverse of q165's
    // null result, on the corpus shape the construction targets.
    "q178_opq_recall" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val corpus = cf.select(col("vec_id").as("c_id"), col("cvec"))
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("q_vec"))
        val rawCb = trainedCodebooks(s, dir, "pq_cb_raw_cf_v1")(
          AnnIndex.pqTrainCodebooks(cf, "vec_id", "cvec",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        // lazy + cached: built only when a codebook artifact is missing
        lazy val residCorpus = AnnIndex.pqResidualCorpus(cf, "vec_id", "cvec",
          nlist = 32, coarseCentroids = Some(cents)).cache()
        val resCb = trainedCodebooks(s, dir, "pq_cb_res_cf_v1")(
          AnnIndex.pqTrainCodebooks(residCorpus, "vec_id", "__resid",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        val rot = graft.operators.Opq.fixtureRotation
        val opqCb = trainedCodebooks(s, dir, "pq_cb_opq_cf_v1")(
          AnnIndex.pqTrainCodebooks(residCorpus.select(col("vec_id"),
            matVec(col("__resid"), rot).as("__resid")), "vec_id", "__resid",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        // encoded corpora load from the shared deployment-index artifacts
        val rawEnc = encodedArtifact(s, dir, "pq_enc_raw_cf_v1")(
          AnnIndex.pqEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(rawCb), Some(cents)))
        val resEnc = encodedArtifact(s, dir, "pq_enc_res_cf_v1")(
          AnnIndex.pqResidualEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(resCb), Some(cents)))
        val opqEnc = encodedArtifact(s, dir, "pq_enc_opq_cf_v1")(
          AnnIndex.pqResidualEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(opqCb), Some(cents), Some(rot)))
        def top3(f: => org.apache.spark.sql.DataFrame, hit: String) =
          f.select(col("q_id"), col("c_id"), lit(1).as(hit))
        val raw3 = top3(AnnIndex.pqTopK(queries, "q_id", "q_vec", corpus, "c_id", "cvec",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 32, nprobe = 4,
          codebooks = Some(rawCb), coarseCentroids = Some(cents),
          encoded = Some(rawEnc)), "__hit_raw")
        val res3 = top3(AnnIndex.pqResidualTopK(queries, "q_id", "q_vec", corpus, "c_id", "cvec",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 32, nprobe = 4,
          codebooks = Some(resCb), coarseCentroids = Some(cents),
          encoded = Some(resEnc)), "__hit_res")
        val opq3 = top3(AnnIndex.pqResidualTopK(queries, "q_id", "q_vec", corpus, "c_id", "cvec",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 32, nprobe = 4,
          codebooks = Some(opqCb), coarseCentroids = Some(cents),
          rotation = Some(rot), encoded = Some(opqEnc)), "__hit_opq")
        val c = cf.select(col("vec_id").as("c_id"), asDouble(col("cvec")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val exact = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("q_id", "c_id")
        exact.join(raw3, Seq("q_id", "c_id"), "left")
          .join(res3, Seq("q_id", "c_id"), "left")
          .join(opq3, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit_raw"), lit(0))).cast("long").as("n_hit_raw"),
            sum(coalesce(col("__hit_res"), lit(0))).cast("long").as("n_hit_res"),
            sum(coalesce(col("__hit_opq"), lit(0))).cast("long").as("n_hit_opq"),
            fr(sum(coalesce(col("__hit_raw"), lit(0))).cast("double") / lit(3.0), 4).as("recall_raw"),
            fr(sum(coalesce(col("__hit_res"), lit(0))).cast("double") / lit(3.0), 4).as("recall_res"),
            fr(sum(coalesce(col("__hit_opq"), lit(0))).cast("double") / lit(3.0), 4).as("recall_opq"))
          .orderBy("q_id")
      },
      Some {
        val d2 = s"${sqSql("q.v")} + ${sqSql("c.v")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v)"
        def top3Of(adist: String, name: String): String =
          s"""$name AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q_id, c_id,
             |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
             |    FROM $adist)
             |  WHERE rn <= 3)""".stripMargin
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |rmat AS (SELECT CAST(${graft.operators.Opq.sqlMatrixLiteral(graft.operators.Opq.fixtureRotation)} AS DOUBLE[][]) AS m),
           |${cfRawChain()},
           |${cfResidChain("r", rot = false)},
           |${cfResidChain("o", rot = true)},
           |${top3Of("padist", "rawt")},
           |${top3Of("radist", "rest")},
           |${top3Of("oadist", "opqt")},
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM cf q JOIN cf c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rn <= 3)
           |SELECT q_id, count(*) AS n_exact,
           |  CAST(sum(hit_raw) AS BIGINT) AS n_hit_raw,
           |  CAST(sum(hit_res) AS BIGINT) AS n_hit_res,
           |  CAST(sum(hit_opq) AS BIGINT) AS n_hit_opq,
           |  ${frs("CAST(sum(hit_raw) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_raw,
           |  ${frs("CAST(sum(hit_res) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_res,
           |  ${frs("CAST(sum(hit_opq) AS DOUBLE) / CAST(3.0 AS DOUBLE)", 4)} AS recall_opq
           |FROM (
           |  SELECT e.q_id,
           |    CASE WHEN pr.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_raw,
           |    CASE WHEN rr.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_res,
           |    CASE WHEN oo.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_opq
           |  FROM exact e
           |  LEFT JOIN rawt pr ON pr.q_id = e.q_id AND pr.c_id = e.c_id
           |  LEFT JOIN rest rr ON rr.q_id = e.q_id AND rr.c_id = e.c_id
           |  LEFT JOIN opqt oo ON oo.q_id = e.q_id AND oo.c_id = e.c_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      }),

    // Non-parametric OPQ refinement (round-11 backlog 1; Ge et al. §3): the
    // alternating encode → Procrustes-polar loop, started from the
    // parametric rotation, under the IDENTICAL trained cells / probes /
    // code budget as q178, head-to-head against the parametric rotation on
    // exact top-10 recall (recall@3 saturates at 53/60 for BOTH rotations —
    // @10's 200-hit denominator resolves the difference). Both chains and
    // the exact reference are oracle-checked (the two trained rotations
    // ride along as shared 64×64 literals — pure functions of row ids,
    // scale-factor-independent). Measured at sf0.01: NP cuts the 1-iter
    // sample quantization error 23% (1.15e10 vs 1.50e10) and lifts
    // recall@10 185→188 of 200 (0.925→0.940); OpqSpec pins both orderings.
    "q186_opq_np_recall" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val corpus = cf.select(col("vec_id").as("c_id"), col("cvec"))
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("q_vec"))
        // lazy + cached: built only when a codebook artifact is missing;
        // the parametric-OPQ codebooks are the SAME artifact q178 trains
        lazy val residCorpus = AnnIndex.pqResidualCorpus(cf, "vec_id", "cvec",
          nlist = 32, coarseCentroids = Some(cents)).cache()
        def chain(rot: Array[Array[Double]], cbName: String, encName: String,
                  hit: String) = {
          val cb = trainedCodebooks(s, dir, cbName)(
            AnnIndex.pqTrainCodebooks(residCorpus.select(col("vec_id"),
              matVec(col("__resid"), rot).as("__resid")), "vec_id", "__resid",
              m = PqM, ksub = PqKsub, dim = 64, iters = 1))
          // the parametric chain's encoded corpus is the SAME artifact q178
          // consumes; the NP rotation gets its own
          val enc = encodedArtifact(s, dir, encName)(
            AnnIndex.pqResidualEncodedCorpus(corpus, "c_id", "cvec",
              PqM, PqKsub, 64, 32, Some(cb), Some(cents), Some(rot)))
          AnnIndex.pqResidualTopK(queries, "q_id", "q_vec", corpus, "c_id", "cvec",
            k = 10, m = PqM, ksub = PqKsub, dim = 64, nlist = 32, nprobe = 4,
            codebooks = Some(cb), coarseCentroids = Some(cents),
            rotation = Some(rot), encoded = Some(enc))
            .select(col("q_id"), col("c_id"), lit(1).as(hit))
        }
        val par3 = chain(graft.operators.Opq.fixtureRotation,
          "pq_cb_opq_cf_v1", "pq_enc_opq_cf_v1", "__hit_opq")
        val np3 = chain(graft.operators.Opq.fixtureRotationNP,
          "pq_cb_opqnp_cf_v1", "pq_enc_opqnp_cf_v1", "__hit_np")
        val c = cf.select(col("vec_id").as("c_id"), asDouble(col("cvec")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val exact = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .select("q_id", "c_id")
        exact.join(par3, Seq("q_id", "c_id"), "left")
          .join(np3, Seq("q_id", "c_id"), "left")
          .groupBy("q_id")
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("__hit_opq"), lit(0))).cast("long").as("n_hit_opq"),
            sum(coalesce(col("__hit_np"), lit(0))).cast("long").as("n_hit_np"),
            fr(sum(coalesce(col("__hit_opq"), lit(0))).cast("double") / lit(10.0), 4).as("recall_opq"),
            fr(sum(coalesce(col("__hit_np"), lit(0))).cast("double") / lit(10.0), 4).as("recall_np"))
          .orderBy("q_id")
      },
      Some {
        val d2 = s"${sqSql("q.v")} + ${sqSql("c.v")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v)"
        def top10Of(adist: String, name: String): String =
          s"""$name AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q_id, c_id,
             |      row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
             |    FROM $adist)
             |  WHERE rn <= 10)""".stripMargin
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |rmat AS (SELECT CAST(${graft.operators.Opq.sqlMatrixLiteral(graft.operators.Opq.fixtureRotation)} AS DOUBLE[][]) AS m),
           |rmatnp AS (SELECT CAST(${graft.operators.Opq.sqlMatrixLiteral(graft.operators.Opq.fixtureRotationNP)} AS DOUBLE[][]) AS m),
           |${cfResidChain("o", rot = true)},
           |${cfResidChain("n", rot = true, rmat = "rmatnp")},
           |${top10Of("oadist", "opqt")},
           |${top10Of("nadist", "npt")},
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM cf q JOIN cf c ON c.vec_id <> q.vec_id
           |    WHERE q.vec_id < 20)
           |  WHERE rn <= 10)
           |SELECT q_id, count(*) AS n_exact,
           |  CAST(sum(hit_opq) AS BIGINT) AS n_hit_opq,
           |  CAST(sum(hit_np) AS BIGINT) AS n_hit_np,
           |  ${frs("CAST(sum(hit_opq) AS DOUBLE) / CAST(10.0 AS DOUBLE)", 4)} AS recall_opq,
           |  ${frs("CAST(sum(hit_np) AS DOUBLE) / CAST(10.0 AS DOUBLE)", 4)} AS recall_np
           |FROM (
           |  SELECT e.q_id,
           |    CASE WHEN oo.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_opq,
           |    CASE WHEN nn.c_id IS NOT NULL THEN 1 ELSE 0 END AS hit_np
           |  FROM exact e
           |  LEFT JOIN opqt oo ON oo.q_id = e.q_id AND oo.c_id = e.c_id
           |  LEFT JOIN npt nn ON nn.q_id = e.q_id AND nn.c_id = e.c_id)
           |GROUP BY q_id ORDER BY q_id""".stripMargin
      }),

    // SEMANTIC dedup (SemDeDup, Abbas et al. 2023 — r11 verdict task 2):
    // the missing axis of the dedup matrix. Corpus = clustered fixture +
    // planted paraphrase copies (paraphraseDf); centroids = the q177
    // trained cells (index trained on the BASE corpus, dedup runs on the
    // augmented one — the standing-index shape); within-cell pairs above
    // τ = 0.99999 drop the member closer to its centroid (the paper's
    // diversity-preserving keep rule, ties to lower id). The two
    // similarity bands (copies ≈ 1.0, same-topic ≈ 1 − 3·10⁻⁴) make the
    // verdict exact; measured at sf0.01: all 125 planted pairs are caught
    // (exactly one member of each flagged), zero same-topic false drops —
    // the dup-recall note vs the shingle leg lives in docs/PERF_r12.md.
    "q196_semantic_dedup" -> Q(
      (s, dir) => graft.operators.Dedup.semDeDup(paraphraseDf(s, dir), "vec_id", "cvec",
        trainedCents(s, dir).toSeq, tau = 0.99999),
      Some {
        val cosxy = s"list_inner_product(x.v, y.v) / (sqrt(${sqSql("x.v")}) * sqrt(${sqSql("y.v")}))"
        val centSim = s"list_inner_product(a.v, c.cv) / (sqrt(${sqSql("a.v")}) * sqrt(${sqSql("c.cv")}))"
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |$paraphraseCtes,
           |pasg AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT f.vec_id, f.v, c.ci AS cell,
           |      row_number() OVER (PARTITION BY f.vec_id
           |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
           |    FROM pf f CROSS JOIN cents c)
           |  WHERE rn = 1),
           |cs AS (
           |  SELECT a.vec_id, a.cell, a.v, ${frs(centSim, 6)} AS cent_sim
           |  FROM pasg a JOIN cents c ON c.ci = a.cell),
           |dups AS (
           |  SELECT DISTINCT x.vec_id
           |  FROM cs x JOIN cs y ON x.cell = y.cell AND x.vec_id <> y.vec_id
           |  WHERE ${frs(cosxy, 6)} >= CAST(0.99999 AS DOUBLE)
           |    AND (y.cent_sim < x.cent_sim
           |         OR (y.cent_sim = x.cent_sim AND y.vec_id < x.vec_id)))
           |SELECT c.vec_id, CAST(c.cell AS BIGINT) AS cell, c.cent_sim,
           |  CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
           |FROM cs c LEFT JOIN dups d ON d.vec_id = c.vec_id
           |ORDER BY c.vec_id""".stripMargin
      }),

    // RECALL-vs-COST frontier (r11 verdict task 3): q178/q186 pin recall at
    // ONE operating point (nprobe=4); this audit publishes the whole curve
    // a 100-TB deployment actually tunes — nprobe ∈ {1,2,4,8} × chain ∈
    // {raw, resid, resid+OPQ}, each point reporting (candidates scored,
    // exact-top-3 hits, recall). ONE scored candidate relation per chain
    // (probe_rn-tagged, AnnIndex.pqCandidates) serves all four points —
    // the sweep re-ranks a cached slim table instead of re-scanning the
    // index per point, which is also how the knob is turned in production
    // (the index is fixed; only the probe budget moves). n_cand is
    // chain-independent by construction (all chains probe the same coarse
    // cells) — the output shows it, making the cost axis unambiguous.
    //
    // Queries are BOUNDARY-shaped on purpose: the midpoint of each id<20
    // vector and its id+1 neighbor (different planted clusters, so the
    // true top-3 straddles ~two coarse cells). On the raw clustered
    // corpus the fixture is TOO separated for the knob to matter — every
    // query's exact neighbors live in its own first cell, so recall was
    // FLAT in nprobe at every chain (measured first: 11/36/53 of 60 at
    // all four points, only cost growing); midpoints are exactly the
    // query population for which a deployment raises nprobe. Measured
    // here at sf0.01 (60 exact slots): raw 5/5/5/5, resid 34/36/36/36,
    // resid_opq 48/51/51/51 — recall is non-decreasing in nprobe for
    // every chain, the residual chains gain real hits at 1→2 and then
    // SATURATE while cost keeps doubling (the knee a deployment tunes
    // to), and raw < resid < resid_opq holds at every operating point
    // (OpqSpec pins all three shapes).
    "q197_ann_frontier" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val corpus = cf.select(col("vec_id").as("c_id"), col("cvec"))
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("va"))
          .join(cf.select((col("vec_id") - 1).as("q_id"), col("cvec").as("vb")), Seq("q_id"))
          .select(col("q_id"),
            zip_with(col("va"), col("vb"), (x, y) => (x + y) / lit(2.0)).as("q_vec"))
        // the three codebook sets are the SAME artifacts q178 trains —
        // the frontier audits the deployed index's parameters, it does not
        // train its own
        val rawCb = trainedCodebooks(s, dir, "pq_cb_raw_cf_v1")(
          AnnIndex.pqTrainCodebooks(cf, "vec_id", "cvec",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        lazy val residCorpus = AnnIndex.pqResidualCorpus(cf, "vec_id", "cvec",
          nlist = 32, coarseCentroids = Some(cents)).cache()
        val resCb = trainedCodebooks(s, dir, "pq_cb_res_cf_v1")(
          AnnIndex.pqTrainCodebooks(residCorpus, "vec_id", "__resid",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        val rot = graft.operators.Opq.fixtureRotation
        val opqCb = trainedCodebooks(s, dir, "pq_cb_opq_cf_v1")(
          AnnIndex.pqTrainCodebooks(residCorpus.select(col("vec_id"),
            matVec(col("__resid"), rot).as("__resid")), "vec_id", "__resid",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        // the SQ8 per-dim min/max are trained parameters too (64 rows)
        val sqParams = graft.pipeline.ArtifactStore.loadOrBuild(s,
            graft.pipeline.ArtifactStore.rootFor(dir, "sq8_params_cf_v1")) {
            AnnIndex.sq8Train(cf, "cvec")
          }.orderBy("pos").collect().map(r => (r.getDouble(1), r.getDouble(2)))
        val maxNp = 8
        def tag(df: org.apache.spark.sql.DataFrame, name: String) =
          df.withColumn("chain", lit(name))
        // encoded corpora: the same deployment-index artifacts q178/q186
        // consume — the frontier audits the SHIPPED index tables, scoring
        // each candidate live (decision recorded in docs/PLANS.md)
        val rawEnc = encodedArtifact(s, dir, "pq_enc_raw_cf_v1")(
          AnnIndex.pqEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(rawCb), Some(cents)))
        val resEnc = encodedArtifact(s, dir, "pq_enc_res_cf_v1")(
          AnnIndex.pqResidualEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(resCb), Some(cents)))
        val opqEnc = encodedArtifact(s, dir, "pq_enc_opq_cf_v1")(
          AnnIndex.pqResidualEncodedCorpus(corpus, "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(opqCb), Some(cents), Some(rot)))
        val cands = tag(AnnIndex.pqCandidates(queries, "q_id", "q_vec",
            corpus, "c_id", "cvec", m = PqM, ksub = PqKsub, dim = 64,
            nlist = 32, nprobe = maxNp,
            codebooks = Some(rawCb), coarseCentroids = Some(cents),
            encoded = Some(rawEnc)), "raw")
          .unionByName(tag(AnnIndex.pqResidualCandidates(queries, "q_id", "q_vec",
            corpus, "c_id", "cvec", m = PqM, ksub = PqKsub, dim = 64,
            nlist = 32, nprobe = maxNp,
            codebooks = Some(resCb), coarseCentroids = Some(cents),
            encoded = Some(resEnc)), "resid"))
          .unionByName(tag(AnnIndex.pqResidualCandidates(queries, "q_id", "q_vec",
            corpus, "c_id", "cvec", m = PqM, ksub = PqKsub, dim = 64,
            nlist = 32, nprobe = maxNp,
            codebooks = Some(opqCb), coarseCentroids = Some(cents),
            rotation = Some(rot), encoded = Some(opqEnc)), "resid_opq"))
          // the MEMORY axis's cheap point (r12 verdict task 5): SQ8 at
          // dim·8 bits/vector vs the PQ chains' m·log2(ksub) — no codebook,
          // per-dim fidelity, same cells and probe budget
          .unionByName(tag(AnnIndex.sq8Candidates(queries, "q_id", "q_vec",
            corpus, "c_id", "cvec", nlist = 32, nprobe = maxNp,
            params = sqParams, coarseCentroids = Some(cents)), "sq8"))
        val c = cf.select(col("vec_id").as("c_id"), asDouble(col("cvec")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val we = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val exact = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 3)
          .select("q_id", "c_id")
        // ALL 16 operating points in ONE windowed aggregation pass: explode
        // the nprobe grid onto the candidate stream, rank within (chain,
        // nprobe, q_id) — identical to ranking each probe_rn<=np slice
        // separately — and fold candidate mass + exact-truth hits in one
        // groupBy (the ≤3-per-query exact set joins left, cannot multiply
        // rows). Previously each point ran its own count + hits-join jobs:
        // 8+ aggregation jobs and two corpus-wide caches for what one pass
        // computes.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("chain", "np", "q_id").orderBy(col("score"), col("c_id"))
        cands
          .select(col("*"), explode(array(Seq(1, 2, 4, 8).map(lit): _*)).as("np"))
          .filter(col("probe_rn") <= col("np"))
          .withColumn("rn", row_number().over(w))
          .join(broadcast(exact.withColumn("__e", lit(1L))),
            Seq("q_id", "c_id"), "left")
          .groupBy("chain", "np")
          .agg(count(lit(1)).as("n_cand"),
            sum(when(col("rn") <= 3 && col("__e").isNotNull, 1L).otherwise(0L))
              .as("n_hit"))
          .select(col("chain"), col("np").cast("long").as("nprobe"),
            col("n_cand"), col("n_hit"),
            fr(col("n_hit").cast("double") / lit(60.0), 4).as("recall"))
          // the second axis a 100-TB deployment weighs: index bytes per
          // vector — PQ m·log2(ksub)/8 = 16·4/8 = 8 B, SQ8 dim·1 = 64 B
          .withColumn("bytes_per_vec",
            when(col("chain") === "sq8", lit(64L)).otherwise(lit(8L)))
          .orderBy("chain", "nprobe")
      },
      Some {
        val d2 = s"${sqSql("q.v")} + ${sqSql("c.v")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v)"
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |rmat AS (SELECT CAST(${graft.operators.Opq.sqlMatrixLiteral(graft.operators.Opq.fixtureRotation)} AS DOUBLE[][]) AS m),
           |qmid AS (
           |  SELECT a.vec_id,
           |    list_transform(generate_series(1, 64),
           |      i -> (a.v[i] + b.v[i]) / CAST(2.0 AS DOUBLE)) AS v
           |  FROM cf a JOIN cf b ON b.vec_id = a.vec_id + 1
           |  WHERE a.vec_id < 20),
           |${cfRawChain(maxNprobe = 8, withRn = true, qSrc = "qmid")},
           |${cfResidChain("r", rot = false, maxNprobe = 8, withRn = true, qSrc = "qmid")},
           |${cfResidChain("o", rot = true, maxNprobe = 8, withRn = true, qSrc = "qmid")},
           |${sq8ChainCtes(maxNprobe = 8, qSrc = "qmid")},
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM qmid q JOIN cf c ON c.vec_id <> q.vec_id)
           |  WHERE rn <= 3),
           |allc AS (
           |  SELECT 'raw' AS chain, q_id, c_id, d, probe_rn FROM padist
           |  UNION ALL SELECT 'resid' AS chain, q_id, c_id, d, probe_rn FROM radist
           |  UNION ALL SELECT 'resid_opq' AS chain, q_id, c_id, d, probe_rn FROM oadist
           |  UNION ALL SELECT 'sq8' AS chain, q_id, c_id, d, probe_rn FROM sadist),
           |pts AS (SELECT unnest([1, 2, 4, 8]) AS nprobe),
           |slc AS (
           |  SELECT a.chain, p.nprobe, a.q_id, a.c_id, a.d
           |  FROM allc a JOIN pts p ON a.probe_rn <= p.nprobe),
           |topk AS (
           |  SELECT chain, nprobe, q_id, c_id FROM (
           |    SELECT chain, nprobe, q_id, c_id,
           |      row_number() OVER (PARTITION BY chain, nprobe, q_id
           |        ORDER BY ${frs("d", 6)}, c_id) AS rn
           |    FROM slc)
           |  WHERE rn <= 3),
           |counts AS (SELECT chain, nprobe, count(*) AS n_cand FROM slc GROUP BY 1, 2),
           |hits AS (
           |  SELECT t.chain, t.nprobe, count(*) AS n_hit
           |  FROM topk t JOIN exact e ON e.q_id = t.q_id AND e.c_id = t.c_id
           |  GROUP BY 1, 2)
           |SELECT c.chain, CAST(c.nprobe AS BIGINT) AS nprobe, c.n_cand,
           |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           |  ${frs("CAST(coalesce(h.n_hit, 0) AS DOUBLE) / CAST(60.0 AS DOUBLE)", 4)} AS recall,
           |  CAST(CASE WHEN c.chain = 'sq8' THEN 64 ELSE 8 END AS BIGINT) AS bytes_per_vec
           |FROM counts c LEFT JOIN hits h ON h.chain = c.chain AND h.nprobe = c.nprobe
           |ORDER BY c.chain, c.nprobe""".stripMargin
      }),

    // The STREAMING row of the semantic-dedup axis (q196 is the batch
    // form): the planted paraphrase copies arrive as a stream of NEW
    // embeddings, assign their IVF cell map-side (the q196 trained
    // centroids as literals), probe the standing corpus's cell members
    // stream-static, and τ-matches fold into per-item verdict state. The
    // oracle computes the same gate as batch SQL — stream ≡ batch, and at
    // sf0.01 every one of the 125 copies is flagged with exactly its
    // original (n_matches = 1, best_sim ≈ 1). Completes the streaming
    // ingest-gate family (exact-substring q157, media q168, near-dup
    // bounded q143) on the semantic modality.
    "q201_stream_semantic_gate" -> Q(
      (s, dir) => graft.streaming.StreamingAnn.semanticIngestGate(
        s, dir,
        idExpr = "vec_id + 100000",
        vecExpr = s"transform(sequence(0, 63), d -> ($cvBody) + ($paraNoiseBody))",
        deltaFilter = "vec_id % 4 = 0",
        corpus = clusteredDf(s, dir).select(col("vec_id").as("c_id"), col("cvec")),
        cents = trainedCents(s, dir).toSeq, tau = 0.99999),
      Some {
        val cosDA = s"list_inner_product(d.v, a.v) / (sqrt(${sqSql("d.v")}) * sqrt(${sqSql("a.v")}))"
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |$paraphraseCtes,
           |dasg AS (
           |  SELECT vec_id, v, cell FROM (
           |    SELECT p.vec_id, p.v, c.ci AS cell,
           |      row_number() OVER (PARTITION BY p.vec_id
           |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(p.v, c.cv), c.ci) AS rn
           |    FROM pcopy p CROSS JOIN cents c)
           |  WHERE rn = 1),
           |sims AS (
           |  SELECT d.vec_id, ${frs(cosDA, 6)} AS sim
           |  FROM dasg d JOIN asg a ON a.cell = d.cell)
           |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches, max(sim) AS best_sim
           |FROM sims WHERE sim >= CAST(0.99999 AS DOUBLE)
           |GROUP BY vec_id ORDER BY vec_id""".stripMargin
      }),

    // EMBEDDING-SPACE drift gate (r12 verdict task 4): the drift matrix
    // covered scalar columns; this is the embedding MODALITY — IVF
    // cell-occupancy PSI between corpus snapshots, using parameters the
    // deployment already ships (the trained centroid artifact). Two
    // scenarios: 'cluster_shift' drops three derived clusters outright
    // (their trained cells empty → PSI flags hard), 'uniform_half' keeps a
    // hash-uniform half (occupancy proportions preserved → PSI reads
    // sampling noise, no flag). The PSI arithmetic is psiGateFromCounts
    // verbatim with cells as the categorical bins.
    "q206_embedding_drift_gate" -> Q(
      (s, dir) => {
        val cents = trainedCents(s, dir).toSeq
        val corpus = clusteredDf(s, dir)
        val prev = graft.operators.AnnIndex.cellOccupancyCounts(corpus, "cvec", cents)
        def gate(filter: org.apache.spark.sql.Column, scenario: String) =
          graft.operators.Validate.psiGateFromCounts(prev,
            graft.operators.AnnIndex.cellOccupancyCounts(corpus.filter(filter), "cvec", cents),
            threshold = 0.25)
            .withColumn("scenario", lit(scenario))
        gate(!(col("vec_id") % 32).isin(5, 6, 7), "cluster_shift")
          .unionByName(gate(
            graft.operators.Sampling.hashShard(col("vec_id"), 2) === 0, "uniform_half"))
          .select("scenario", "psi", "n_prev", "n_next", "is_drift")
          .orderBy("scenario")
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |po AS (SELECT cell, CAST(count(*) AS BIGINT) AS pn FROM asg GROUP BY cell)
             |SELECT * FROM (
             |${cellPsiScenarioSql("cluster_shift", "vec_id % 32 NOT IN (5, 6, 7)")}
             |UNION ALL
             |${cellPsiScenarioSql("uniform_half",
                 graft.operators.Sampling.hashShardSql("vec_id", 2) + " = 0")})
             |ORDER BY scenario""".stripMargin)),

    // The same gate MID-INGEST: the shifted snapshot's vectors stream in,
    // cells assign map-side against the trained centroids, per-cell counts
    // fold through complete-mode state (≤ nlist rows at any volume), and
    // the PSI finish runs on drain — passing the batch scenario's oracle
    // verbatim. The embedding row of the stream ≡ batch gate matrix.
    "q207_stream_embedding_drift" -> Q(
      (s, dir) => graft.streaming.StreamingDrift.embeddingCellDriftGate(
        s, dir,
        vecExpr = s"transform(sequence(0, 63), d -> $cvBody)",
        nextFilter = "vec_id % 32 NOT IN (5, 6, 7)",
        cents = trainedCents(s, dir).toSeq,
        prevCounts = graft.operators.AnnIndex.cellOccupancyCounts(
          clusteredDf(s, dir), "cvec", trainedCents(s, dir).toSeq),
        threshold = 0.25),
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |po AS (SELECT cell, CAST(count(*) AS BIGINT) AS pn FROM asg GROUP BY cell)
             |${cellPsiScenarioSql(null, "vec_id % 32 NOT IN (5, 6, 7)")}""".stripMargin)),

    // The grouped row of the embedding-drift axis — q206's gate keyed by
    // label (the multi-source ingest form): one cell-occupancy histogram
    // per label, PSI per label, so a shift confined to ONE label (label 3
    // loses its members of derived clusters 5–7) flags exactly that label
    // while the other nine read psi 0. Completes the drift matrix's
    // embedding modality on the grouped axis, mirroring q193's scalar form.
    "q211_grouped_embedding_drift" -> Q(
      (s, dir) => {
        val cents = trainedCents(s, dir).toSeq
        val corpus = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label"),
            expr(s"transform(sequence(0, 63), d -> $cvBody)").as("cvec"))
          .cache() // prev + next occupancy branches below
        def counts(df: org.apache.spark.sql.DataFrame) =
          graft.operators.AnnIndex.cellOccupancyCountsByGroup(df, "cvec", "label", cents)
        graft.operators.Validate.groupedPsiGateFromCounts(
          counts(corpus),
          counts(corpus.filter(
            !(col("label") === 3 && (col("vec_id") % 32).isin(5, 6, 7)))),
          "label", threshold = 0.25)
          .orderBy("label")
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |lasg AS (
             |  SELECT a.vec_id, e.label, a.cell FROM asg a
             |  JOIN embeddings e ON e.vec_id = a.vec_id),
             |gp AS (SELECT label AS g, cell, CAST(count(*) AS BIGINT) AS pn
             |       FROM lasg GROUP BY 1, 2),
             |gn AS (SELECT label AS g, cell, CAST(count(*) AS BIGINT) AS nn
             |       FROM lasg
             |       WHERE NOT (label = 3 AND vec_id % 32 IN (5, 6, 7))
             |       GROUP BY 1, 2),
             |gj AS (
             |  SELECT coalesce(gp.g, gn.g) AS g, coalesce(gp.pn, 0) AS pn,
             |    coalesce(gn.nn, 0) AS nn
             |  FROM gp FULL OUTER JOIN gn ON gp.g = gn.g AND gp.cell = gn.cell),
             |gt AS (SELECT g, CAST(sum(pn) AS BIGINT) AS tp,
             |       CAST(sum(nn) AS BIGINT) AS tn FROM gj GROUP BY g),
             |gpq AS (
             |  SELECT j.g,
             |    greatest(CAST(pn AS DOUBLE) / CAST(tp AS DOUBLE), CAST(1.0E-6 AS DOUBLE)) AS p,
             |    greatest(CAST(nn AS DOUBLE) / CAST(tn AS DOUBLE), CAST(1.0E-6 AS DOUBLE)) AS q,
             |    tp, tn
             |  FROM gj j JOIN gt ON gt.g = j.g WHERE tp > 0 AND tn > 0)
             |SELECT g AS label, ${frs("sum((p - q) * ln(p / q))", 6)} AS psi,
             |  CAST(min(tp) AS BIGINT) AS n_prev, CAST(min(tn) AS BIGINT) AS n_next,
             |  CAST(${frs("sum((p - q) * ln(p / q))", 6)} > CAST(0.25 AS DOUBLE) AS BIGINT) AS is_drift
             |FROM gpq GROUP BY g ORDER BY g""".stripMargin)),

    // SQ8 + EXACT RE-RANK — the production fix for the frontier's measured
    // sq8 anomaly (recall DROPS 46→41 hits from nprobe 1→2: extra
    // candidates shift the reconstruction-distance top-3): score the cheap
    // SQ8 shortlist, then re-rank its top-10 by EXACT distance (200 exact
    // scores for 20 queries — the standard two-stage retrieval). Both
    // methods are derived from the SAME nprobe=2 candidate relation, so
    // the row pair isolates exactly what the re-rank buys.
    "q209_sq8_rerank" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val corpus = cf.select(col("vec_id").as("c_id"), col("cvec"))
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("va"))
          .join(cf.select((col("vec_id") - 1).as("q_id"), col("cvec").as("vb")), Seq("q_id"))
          .select(col("q_id"),
            zip_with(col("va"), col("vb"), (x, y) => (x + y) / lit(2.0)).as("q_vec"))
        val sqParams = graft.pipeline.ArtifactStore.loadOrBuild(s,
            graft.pipeline.ArtifactStore.rootFor(dir, "sq8_params_cf_v1")) {
            AnnIndex.sq8Train(cf, "cvec")
          }.orderBy("pos").collect().map(r => (r.getDouble(1), r.getDouble(2)))
        // cache-lifetime: pinned by the returned plan — caller releases
        // (see Caching); direct top-3 and the re-rank shortlist both slice
        // this one candidate relation
        val cand = AnnIndex.sq8Candidates(queries, "q_id", "q_vec",
          corpus, "c_id", "cvec", nlist = 32, nprobe = 2,
          params = sqParams, coarseCentroids = Some(cents)).cache()
        val wq = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("score"), col("c_id"))
        val ranked = cand.withColumn("rn", row_number().over(wq))
        val direct3 = ranked.filter(col("rn") <= 3).select("q_id", "c_id")
        val short10 = ranked.filter(col("rn") <= 10).select("q_id", "c_id").cache()
        val c = cf.select(col("vec_id").as("c_id"), asDouble(col("cvec")).as("cv"))
          .withColumn("__c2", l2NormSq(col("cv")))
        val q = queries.select(col("q_id"), asDouble(col("q_vec")).as("qv"))
          .withColumn("__q2", l2NormSq(col("qv")))
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val rr3 = short10.join(c, Seq("c_id")).join(broadcast(q), Seq("q_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(wr))
          .filter(col("rn") <= 3).select("q_id", "c_id")
        val we = org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("c_id"))
        val exact = c.join(broadcast(q), col("q_id") =!= col("c_id"))
          .withColumn("d2",
            fr(col("__q2") + col("__c2") - lit(2.0) * dot(col("qv"), col("cv")), 6))
          .withColumn("rn", row_number().over(we))
          .filter(col("rn") <= 3)
          .select("q_id", "c_id")
          .cache() // joined by both method rows
        val directRow = direct3.join(exact, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("n_hit"))
          .select(lit("sq8_direct").as("method"), lit(0L).as("n_exact_scored"),
            col("n_hit"), fr(col("n_hit").cast("double") / lit(60.0), 4).as("recall"))
        val rerankRow = rr3.join(exact, Seq("q_id", "c_id"))
          .agg(count(lit(1)).as("n_hit"))
          .crossJoin(broadcast(short10.agg(count(lit(1)).as("n_exact_scored"))))
          .select(lit("sq8_rerank").as("method"), col("n_exact_scored"),
            col("n_hit"), fr(col("n_hit").cast("double") / lit(60.0), 4).as("recall"))
        directRow.unionByName(rerankRow).orderBy("method")
      },
      Some {
        val d2 = s"${sqSql("q.v")} + ${sqSql("c.v")}" +
          " - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v)"
        s"""WITH $cfCte,
           |$cfKmeansCtes,
           |qmid AS (
           |  SELECT a.vec_id,
           |    list_transform(generate_series(1, 64),
           |      i -> (a.v[i] + b.v[i]) / CAST(2.0 AS DOUBLE)) AS v
           |  FROM cf a JOIN cf b ON b.vec_id = a.vec_id + 1
           |  WHERE a.vec_id < 20),
           |${sq8ChainCtes(maxNprobe = 2, qSrc = "qmid")},
           |exact AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${frs(d2, 6)}, c.vec_id) AS rn
           |    FROM qmid q JOIN cf c ON c.vec_id <> q.vec_id)
           |  WHERE rn <= 3),
           |srk AS (
           |  SELECT q_id, c_id,
           |    row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
           |  FROM sadist),
           |direct3 AS (SELECT q_id, c_id FROM srk WHERE rn <= 3),
           |short10 AS (SELECT q_id, c_id FROM srk WHERE rn <= 10),
           |rr3 AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT s.q_id, s.c_id,
           |      row_number() OVER (PARTITION BY s.q_id
           |        ORDER BY ${frs(d2, 6)}, s.c_id) AS rn
           |    FROM short10 s
           |    JOIN cf c ON c.vec_id = s.c_id
           |    JOIN qmid q ON q.vec_id = s.q_id)
           |  WHERE rn <= 3),
           |dh AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_hit
           |  FROM direct3 d JOIN exact e ON e.q_id = d.q_id AND e.c_id = d.c_id),
           |rh AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_hit
           |  FROM rr3 r JOIN exact e ON e.q_id = r.q_id AND e.c_id = r.c_id),
           |sn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM short10)
           |SELECT * FROM (
           |  SELECT 'sq8_direct' AS method, CAST(0 AS BIGINT) AS n_exact_scored,
           |    n_hit, ${frs("CAST(n_hit AS DOUBLE) / CAST(60.0 AS DOUBLE)", 4)} AS recall
           |  FROM dh
           |  UNION ALL
           |  SELECT 'sq8_rerank', sn.n, rh.n_hit,
           |    ${frs("CAST(rh.n_hit AS DOUBLE) / CAST(60.0 AS DOUBLE)", 4)}
           |  FROM rh CROSS JOIN sn)
           |ORDER BY method""".stripMargin
      }),

    // ERASURE PROPAGATION through the DEPLOYED ANN index artifact (r16
    // verdict task 1): the trained raw-PQ encoded corpus is materialized
    // CELL-PARTITIONED (one directory per IVF cell — the deployment layout
    // of an inverted file), a tombstone set (one cluster's "user": vec_id ≡
    // 5 mod 32, every third row) names its touched cells by a MAP-SIDE
    // assignment of the tombstoned vectors (O(tombstones·nlist), no index
    // scan), and IndexErasure.repairErased rewrites ONLY those cell
    // directories in one dynamic-partition-overwrite job. The oracle is the
    // OTHER side: DuckDB re-encodes the SURVIVING corpus from scratch under
    // the standing quantizer (trained on the full corpus — the Faiss
    // remove_ids contract: parameters are aggregates and stand, rows go).
    // Hash equality = repaired ≡ rebuilt, the q194-style two-sided proof.
    "q248_index_erasure_repair" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 5 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        readEncExploded(s, root)
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |$cfRawEncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN pcodes co ON co.vec_id = a.vec_id
             |WHERE NOT (a.vec_id % 32 = 5 AND a.vec_id % 3 = 0)
             |ORDER BY 1, 3""".stripMargin)),

    // The erasure-repair MANIFEST — "name the cells/codes requiring
    // repair": one row per touched cell with its standing row count, rows
    // to remove, and rows surviving. Computed as a pure function of the
    // corpus + tombstone predicate under the standing quantizer (stable
    // across repair re-runs — the applied-repair record on a virgin index
    // equals this plan, pinned in IndexErasureSpec); the cost statement is
    // the row itself: repair rewrites Σ n_before over THESE cells, not the
    // corpus.
    "q249_erasure_repair_manifest" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        val tombFlag = when(col("vec_id") % 32 === 5 && col("vec_id") % 3 === 0, 1L)
          .otherwise(0L)
        AnnIndex.ivfAssignTrained(cf, "vec_id", "cvec", cents.toSeq)
          .join(cf.select(col("vec_id"), tombFlag.as("__t")), Seq("vec_id"))
          .groupBy(col("cell"))
          .agg(count(lit(1)).as("n_before"), sum(col("__t")).as("n_removed"))
          .filter(col("n_removed") > 0L)
          .select(col("cell"), col("n_before"), col("n_removed"),
            (col("n_before") - col("n_removed")).as("n_after"))
          .orderBy("cell")
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes
             |SELECT CAST(cell AS BIGINT) AS cell,
             |  CAST(count(*) AS BIGINT) AS n_before,
             |  CAST(sum(CASE WHEN vec_id % 32 = 5 AND vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
             |  CAST(count(*) - sum(CASE WHEN vec_id % 32 = 5 AND vec_id % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after
             |FROM asg
             |GROUP BY cell
             |HAVING sum(CASE WHEN vec_id % 32 = 5 AND vec_id % 3 = 0 THEN 1 ELSE 0 END) > 0
             |ORDER BY cell""".stripMargin)),

    // STREAM-DRIVEN erasure repair (the ingest form of q248): deletion
    // requests arrive as tombstone micro-batches — here one whole cluster
    // (vec_id ≡ 9 mod 32) split across two batches — and each batch
    // repairs the standing cell-partitioned index in foreachBatch. Repair
    // is content-idempotent (a replayed batch removes nothing and rewrites
    // identical content), so the final index depends only on the tombstone
    // SET: streamed ≡ one-shot ≡ rebuilt, checked against the from-scratch
    // survivor re-encode. Erasing a whole cluster also exercises the
    // empty-partition drop at query level (its cell directory vanishes).
    "q254_stream_erasure_repair" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_erz2_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 9)
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.streaming.StreamingErasure.streamRepair(s, root, "cell", "c_id",
          tomb, nBatches = 2,
          b => AnnIndex.ivfAssignTrained(b, "c_id", "cvec", cents.toSeq)
            .select("cell").distinct().collect().map(_.getLong(0)).toSeq)
        readEncExploded(s, root)
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |$cfRawEncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN pcodes co ON co.vec_id = a.vec_id
             |WHERE NOT (a.vec_id % 32 = 9)
             |ORDER BY 1, 3""".stripMargin)),

    // The FULL INDEX-MAINTENANCE ALGEBRA on one artifact: APPEND the
    // paraphrase delta (q196's planted near-dups, ids +100000) encoded
    // under the STANDING quantizer, then ERASE a tombstone set — and the
    // result must equal the from-scratch encode of (corpus ∪ delta) −
    // tombstones under that same quantizer. Append skips already-present
    // ids AND ids in the persisted tombstone log (`<root>.tombstones`,
    // written by every repair BEFORE its rewrite), and erase is
    // content-idempotent — so any replay or interleaving of the two
    // operations converges to the same index, erase winning: a replayed
    // append delivered AFTER the erasure cannot resurrect erased rows
    // (ADVICE r17 medium; q263 pins exactly that adversarial order).
    // Insert (q156's delta-assign ≡ rebuild) and erase (q248) compose on
    // the deployed artifact itself.
    "q255_index_maintenance_algebra" -> Q(
      (s, dir) => {
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_erz3_v1")
        // insert: the paraphrase copies (vec_id >= 100000), encoded under
        // the standing trained quantizer — no retraining on maintenance
        val delta = paraphraseDf(s, dir).filter(col("vec_id") >= 100000L)
        graft.pipeline.IndexErasure.appendRows(s, root, "cell", "c_id",
          pqEncOf(s, dir, delta, cents))
        // erase: the q248 tombstone set (applies to copies too — the
        // predicate is on the INDEX id, mirrored verbatim in the oracle)
        val all = paraphraseDf(s, dir)
        val tomb = all.filter(col("vec_id") % 32 === 5 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        readEncExploded(s, root)
      },
      Some(maintenanceAlgebraOracleSql)),

    // ERASE WINS UNDER REPLAY — the adversarial delivery order ADVICE r17
    // (medium) proved q255 alone doesn't pin: an at-least-once append
    // pipeline re-delivers the delta AFTER the erasure removed some of its
    // ids. Without the persisted tombstone log the replay's anti-join
    // against the (already-purged) index would re-insert erased rows —
    // GDPR resurrection. With it, appendRows drops logged ids first, so
    // append → erase → REPLAYED append converges to the same survivor
    // relation as q255's append → erase: identical oracle, identical hash.
    "q263_erase_wins_replay" -> Q(
      (s, dir) => {
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_erz4_v1")
        val delta = paraphraseDf(s, dir).filter(col("vec_id") >= 100000L)
        val encDelta = pqEncOf(s, dir, delta, cents)
        graft.pipeline.IndexErasure.appendRows(s, root, "cell", "c_id", encDelta)
        val all = paraphraseDf(s, dir)
        val tomb = all.filter(col("vec_id") % 32 === 5 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        // the adversarial replay: the SAME append, delivered again after
        // the erasure — the tombstone log must keep erased ids out
        graft.pipeline.IndexErasure.appendRows(s, root, "cell", "c_id", encDelta)
        readEncExploded(s, root)
      },
      Some(maintenanceAlgebraOracleSql)),

    // ERASURE IS QUERY-VISIBLE — the user-facing guarantee behind q248's
    // artifact repair: an ANN top-k served FROM the repaired index must
    // never surface an erased vector, and must rank exactly as an index
    // rebuilt from the survivors would. The Spark side serves pqTopK with
    // `encoded` = the repaired partitioned artifact (re-applying the
    // idempotent repair first, so the query is self-contained in a fresh
    // session); the oracle runs the trained raw-PQ probe chain with the
    // tombstoned ids excluded from the CANDIDATE relation — the
    // survivor-rebuilt ranking. Hash equality = no erased id can be
    // retrieved, at any rank, for any probe.
    "q259_erasure_query_visibility" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 5 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        val rawCb = trainedCodebooks(s, dir, "pq_cb_raw_cf_v1")(
          AnnIndex.pqTrainCodebooks(cf, "vec_id", "cvec",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        val enc = graft.pipeline.IndexErasure.readPartitioned(s, root, "cell")
          .select(col("c_id"), col("cell").cast("int").as("__cell"), col("__codes"))
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("q_vec"))
        AnnIndex.pqTopK(queries, "q_id", "q_vec",
          cf.select(col("vec_id").as("c_id"), col("cvec")), "c_id", "cvec",
          k = 3, m = PqM, ksub = PqKsub, dim = 64, nlist = 32, nprobe = 4,
          codebooks = Some(rawCb), coarseCentroids = Some(cents),
          encoded = Some(enc))
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |${cfRawChain(candWhere = " AND NOT (a.vec_id % 32 = 5 AND a.vec_id % 3 = 0)")}
             |SELECT q_id, c_id, ${frs("d", 6)} AS score, CAST(rn AS BIGINT) AS rn
             |FROM (
             |  SELECT q_id, c_id, d,
             |    row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
             |  FROM padist)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // QUANTIZER RETRAIN & INDEX-VERSION MIGRATION (r18 verdict task 1) —
    // the lifecycle step the erasure family pins shut: the drift gate
    // (q206, cluster_shift) DETECTS a drifted corpus but nothing REPAIRS
    // the quantizer. Here the deployed v1 index first absorbs a deletion
    // (tombstones logged), then the corpus drifts (q206's shifted-scenario
    // fixture: clusters 5–7 vanish), and IndexMigration.migrate retrains
    // centroids + codebooks on the CURRENT corpus, re-encodes it in one
    // pass, and staged-swaps the cell-partitioned root — carrying the
    // tombstone log across versions, so a migration fed a pre-deletion
    // corpus snapshot cannot resurrect erased ids. The oracle is the
    // two-sided q248 shape: DuckDB retrains FROM SCRATCH on the drifted
    // survivor set (the standing training SQL re-rooted on the filtered
    // corpus — cfFilteredCte) and encodes it; hash equality = migrated ≡
    // rebuilt under the NEW quantizer.
    "q273_index_migration" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_mig_v1")
        // a deletion runs against the deployed v1 index first — its ids
        // must stay gone THROUGH the migration
        val tomb = cf.filter(col("vec_id") % 32 === 17 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        // the drift: the CURRENT corpus lost clusters 5–7; note the
        // snapshot still CONTAINS the erased ids (exported pre-deletion —
        // the at-least-once world) — migrate anti-joins the carried log
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.pipeline.IndexMigration.migrate(s, root, current, "c_id", "cvec",
          nlist = 32, m = PqM, ksub = PqKsub, dim = 64)
        readEncExploded(s, root)
      },
      Some(s"""WITH ${cfFilteredCte(
               "vec_id % 32 NOT IN (5, 6, 7) AND NOT (vec_id % 32 = 17 AND vec_id % 3 = 0)")},
             |$cfKmeansCtes,
             |$cfRawEncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN pcodes co ON co.vec_id = a.vec_id
             |ORDER BY 1, 3""".stripMargin)),

    // Migration is CHAIN-AGNOSTIC — the residual-PQ deployment migrates
    // too (q273 covered raw-PQ): same deletion-then-drift scenario on the
    // residual-encoded cell-partitioned artifact, repaired, then
    // IndexMigration.migrateResidual retrains coarse cells + RESIDUAL
    // codebooks (quantizing v − centroid under the NEW cells) and
    // re-encodes in one pass. The oracle retrains the whole residual
    // chain from scratch on the drifted survivor set (the standing
    // cfResidChain CTEs re-rooted on the filtered corpus): migrated ≡
    // rebuilt under the new residual quantizer, hash-checked.
    "q279_index_migration_residual" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqResidEncPartitioned(s, dir, "pq_enc_res_cf_part_mig_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 21 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.pipeline.IndexMigration.migrateResidual(s, root, current, "c_id", "cvec",
          nlist = 32, m = PqM, ksub = PqKsub, dim = 64)
        readEncExploded(s, root)
      },
      Some(s"""WITH ${cfFilteredCte(
               "vec_id % 32 NOT IN (5, 6, 7) AND NOT (vec_id % 32 = 21 AND vec_id % 3 = 0)")},
             |$cfKmeansCtes,
             |${cfResidChain("mg", rot = false)}
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN mgcodes co ON co.vec_id = a.vec_id
             |ORDER BY 1, 3""".stripMargin)),

    // The OPQ chain migrates too — and unlike raw/residual, OPQ carries a
    // THIRD trained parameter: the rotation. A drifted corpus needs it
    // RETRAINED (Ge et al.'s R is fit to the residual covariance, which
    // drift moves); here the new rotation is trained on the 256 lowest
    // SURVIVOR ids' residual sample (a pure function of the drift
    // predicate — Opq.residSampleFiltered — so the Spark parameter and
    // the oracle literal derive the same matrix, the q177 fixture-rotation
    // policy applied to the drifted corpus), the residual codebooks
    // retrain in the rotated space, and the one-pass re-encode rotates
    // before coding. Oracle: the standing rotated-residual training SQL
    // re-rooted on the drifted survivors with the retrained matrix as its
    // rmat literal — migrated ≡ rebuilt under the NEW rotation + cells +
    // codebooks.
    "q282_index_migration_opq" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val cents = trainedCents(s, dir)
        // v1 deployment: OPQ-encoded cell-partitioned artifact under the
        // v1 quantizer and the v1 (full-sample) fixture rotation
        val residCorpus = AnnIndex.pqResidualCorpus(cf, "vec_id", "cvec",
          nlist = 32, Some(cents))
        val rotV1 = graft.operators.Opq.fixtureRotation
        val opqCb = trainedCodebooks(s, dir, "pq_cb_opq_cf_v1")(
          AnnIndex.pqTrainCodebooks(residCorpus.select(col("vec_id"),
            matVec(col("__resid"), rotV1).as("__resid")), "vec_id", "__resid",
            m = PqM, ksub = PqKsub, dim = 64, iters = 1))
        val root = graft.pipeline.ArtifactStore.rootFor(dir, "pq_enc_opq_cf_part_mig_v1")
        graft.pipeline.IndexErasure.ensurePartitioned(s, root, "cell") {
          AnnIndex.pqResidualEncodedCorpus(
            cf.select(col("vec_id").as("c_id"), col("cvec")), "c_id", "cvec",
            PqM, PqKsub, 64, 32, Some(opqCb), Some(cents), Some(rotV1))
            .select(col("c_id"), col("__cell").cast("long").as("cell"), col("__codes"))
        }
        val tomb = cf.filter(col("vec_id") % 32 === 13 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.pipeline.IndexMigration.migrateOpq(s, root, current, "c_id", "cvec",
          nlist = 32, m = PqM, ksub = PqKsub, dim = 64, rotation = migOpqRotation)
        readEncExploded(s, root)
      },
      Some(s"""WITH ${cfFilteredCte(
               "vec_id % 32 NOT IN (5, 6, 7) AND NOT (vec_id % 32 = 13 AND vec_id % 3 = 0)")},
             |$cfKmeansCtes,
             |rmat AS (SELECT CAST(${graft.operators.Opq.sqlMatrixLiteral(migOpqRotation)} AS DOUBLE[][]) AS m),
             |${cfResidChain("mg", rot = true)}
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN mgcodes co ON co.vec_id = a.vec_id
             |ORDER BY 1, 3""".stripMargin)),

    // The CANARY CUTOVER GATE — migration's serve-side decision, and the
    // hash-checked form of PERF_r19 §1's recall-restoration claim: the
    // corpus drifts into a new value regime (÷100 + shift — clusters
    // preserved, absolute scale moved), the v1 index is migrated, and BOTH
    // quantizers are evaluated side by side on the drifted corpus at the
    // provisioned candidate budget (2·n/nlist members per probed cell,
    // nprobe=1). Under the stale quantizer the corpus collapses into few
    // cells and budgeted recall craters; the migrated cells restore it.
    // promote_v2 (integer hit comparison) is the cutover decision a
    // deployment executes. The oracle trains BOTH quantizers from scratch
    // (the standing kmeans CTEs, once on cf and once re-rooted on the
    // drifted corpus) and mirrors budget capping, probing, and recall.
    "q280_migration_ab_recall_gate" -> Q(
      (s, dir) => {
        import graft.functions.MathFunctions.floorRound
        import org.apache.spark.sql.expressions.Window
        val cf = clusteredDf(s, dir)
        val (root, staleCents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_ab_v1")
        val drifted = cf.select(col("vec_id"),
          expr("transform(cvec, x -> floor(x / 100.0D) + 7000.0D)").as("cvec"))
          .cache()
        val mig = graft.pipeline.IndexMigration.migrate(s, root,
          drifted.select(col("vec_id").as("c_id"), col("cvec")), "c_id", "cvec",
          nlist = 32, m = PqM, ksub = PqKsub, dim = 64)
        // the migration already counted this corpus (no tombstone log on
        // the A/B root, so nCorpus == drifted.count()) — no second scan
        val budget = (2L * mig.nCorpus / 32L).toInt
        val queries = drifted.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("cvec").as("qv"))
        // exact truth: top-10 by squared L2 — drifted components are
        // integer-valued doubles, so distances are exact in both engines
        val truth = queries.crossJoin(drifted)
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("__d", l2NormSq(col("qv")) + l2NormSq(col("cvec"))
            - lit(2.0) * dot(col("qv"), col("cvec")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("__d"), col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id").as("c_id")).cache()
        val tn = truth.count()
        def phase(cents: Array[Seq[Double]]): (Long, Long, Long) = {
          val asg = AnnIndex.ivfAssignTrained(drifted, "vec_id", "cvec", cents.toSeq)
          val occupied = asg.select("cell").distinct().count()
          val members = asg.withColumn("mrn", row_number().over(
            Window.partitionBy("cell").orderBy("vec_id")))
            .filter(col("mrn") <= budget)
          val qcell = AnnIndex.ivfAssignTrained(
            queries.select(col("q_id").as("vec_id"), col("qv").as("cvec")),
            "vec_id", "cvec", cents.toSeq)
            .select(col("vec_id").as("q_id"), col("cell"))
          // candidate mass and truth hits in ONE pass (a left join against
          // the distinct truth pairs cannot multiply rows) — previously a
          // cached count + a second join job
          val r = qcell.join(members, "cell")
            .filter(col("vec_id") =!= col("q_id"))
            .select(col("q_id"), col("vec_id").as("c_id"))
            .join(truth.withColumn("__t", lit(1L)), Seq("q_id", "c_id"), "left")
            .agg(count(lit(1L)).as("nc"),
              sum(coalesce(col("__t"), lit(0L))).as("h"))
            .head()
          (occupied, r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val (mOc, mNc, mH) = phase(mig.cents)
        val (sOc, sNc, sH) = phase(staleCents)
        val promote = if (mH > sH) 1L else 0L
        import s.implicits._
        val out = Seq(
          ("migrated", mOc, mNc, mH, mH.toDouble / tn, promote),
          ("stale", sOc, sNc, sH, sH.toDouble / tn, promote))
          .toDF("phase", "cells_occupied", "n_cand", "n_hits", "recall", "promote_v2")
        drifted.unpersist(); truth.unpersist()
        out.withColumn("recall", floorRound(col("recall"), 6))
          .orderBy("phase")
      },
      Some(s"""WITH $cfCte,
             |cfd AS (
             |  SELECT vec_id, list_transform(v,
             |    x -> floor(x / CAST(100.0 AS DOUBLE)) + CAST(7000.0 AS DOUBLE)) AS v
             |  FROM cf),
             |$cfKmeansCtes,
             |${kmeansCtesOn("cfd", "n")},
             |bud AS (SELECT CAST(2 * count(*) / 32 AS BIGINT) AS b FROM cfd),
             |qd AS (SELECT vec_id AS q_id, v FROM cfd WHERE vec_id < 5),
             |tr AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT q.q_id, c.vec_id AS c_id,
             |      row_number() OVER (PARTITION BY q.q_id ORDER BY
             |        ${sqSql("q.v")} + ${sqSql("c.v")}
             |          - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v), c.vec_id) AS rn
             |    FROM qd q JOIN cfd c ON c.vec_id <> q.q_id)
             |  WHERE rn <= 10),
             |tcnt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tr),
             |sasg AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT f.vec_id, c.ci AS cell,
             |      row_number() OVER (PARTITION BY f.vec_id
             |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
             |    FROM cfd f CROSS JOIN cents c)
             |  WHERE rn = 1),
             |smem AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell,
             |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
             |    FROM sasg) x, bud WHERE x.mrn <= bud.b),
             |scand AS (
             |  SELECT s.q_id, m.vec_id AS c_id
             |  FROM (SELECT a.vec_id AS q_id, a.cell FROM sasg a JOIN qd ON qd.q_id = a.vec_id) s
             |  JOIN smem m ON m.cell = s.cell AND m.vec_id <> s.q_id),
             |nmem AS (
             |  SELECT vec_id, cell FROM (
             |    SELECT vec_id, cell,
             |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
             |    FROM nasg) x, bud WHERE x.mrn <= bud.b),
             |ncand AS (
             |  SELECT s.q_id, m.vec_id AS c_id
             |  FROM (SELECT a.vec_id AS q_id, a.cell FROM nasg a JOIN qd ON qd.q_id = a.vec_id) s
             |  JOIN nmem m ON m.cell = s.cell AND m.vec_id <> s.q_id),
             |sstat AS (SELECT
             |  (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM sasg) AS oc,
             |  (SELECT CAST(count(*) AS BIGINT) FROM scand) AS nc,
             |  (SELECT CAST(count(*) AS BIGINT) FROM scand JOIN tr USING (q_id, c_id)) AS h),
             |nstat AS (SELECT
             |  (SELECT CAST(count(DISTINCT cell) AS BIGINT) FROM nasg) AS oc,
             |  (SELECT CAST(count(*) AS BIGINT) FROM ncand) AS nc,
             |  (SELECT CAST(count(*) AS BIGINT) FROM ncand JOIN tr USING (q_id, c_id)) AS h)
             |SELECT phase, cells_occupied, n_cand, n_hits, recall, promote_v2 FROM (
             |  SELECT 'migrated' AS phase, nn.oc AS cells_occupied, nn.nc AS n_cand,
             |    nn.h AS n_hits,
             |    ${frs("CAST(nn.h AS DOUBLE) / CAST(t.t AS DOUBLE)", 6)} AS recall,
             |    CAST(nn.h > ss.h AS BIGINT) AS promote_v2
             |  FROM nstat nn, sstat ss, tcnt t
             |  UNION ALL
             |  SELECT 'stale', ss.oc, ss.nc, ss.h,
             |    ${frs("CAST(ss.h AS DOUBLE) / CAST(t.t AS DOUBLE)", 6)},
             |    CAST(nn.h > ss.h AS BIGINT)
             |  FROM nstat nn, sstat ss, tcnt t)
             |ORDER BY phase""".stripMargin)),

    // SQ8 DEPLOYMENT PARITY, erasure leg (r19 verdict task 2): raw/
    // residual/OPQ all had cell-partitioned deployed artifacts with
    // erasure; SQ8 — the chain a deployment picks for per-dim fidelity at
    // 64 B/vec — had neither, so the one quantizer with the best recall
    // short of exact couldn't be GDPR-repaired. Here the byte-code index
    // is materialized cell-partitioned under the v1 quantizer (trained
    // cents + standing per-dim min/max), a tombstone set names its
    // touched cells map-side, and repairErased rewrites only those
    // directories. Oracle: DuckDB re-encodes the SURVIVORS from scratch
    // under the STANDING params (min/max trained on the FULL corpus —
    // the Faiss remove_ids contract: parameters are aggregates and
    // stand, rows go). Hash equality = repaired ≡ rebuilt.
    "q283_sq8_index_erasure" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = sq8EncPartitioned(s, dir, "sq8_enc_cf_part_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 9 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        readEncExploded(s, root)
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |$sq8EncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(c.pos - 1 AS BIGINT) AS j, c.code
             |FROM asg a JOIN scodes c ON c.vec_id = a.vec_id
             |WHERE NOT (a.vec_id % 32 = 9 AND a.vec_id % 3 = 0)
             |ORDER BY 1, 3""".stripMargin)),

    // SQ8 migration — the fourth and last chain of the erasure+migration
    // matrix (q273 raw, q279 residual, q282 OPQ): same deletion-then-
    // drift scenario; IndexMigration.migrateSq8 re-fits the per-dim
    // min/max on the drifted SURVIVORS (sq8Train is the whole "codebook"
    // retrain — a 64-row aggregate), retrains the coarse cells, and
    // re-encodes in one pass through the chain-agnostic swap/versioning
    // core. The oracle re-roots the standing kmeans + SQ8 encode SQL on
    // the drifted survivor set (cfFilteredCte): migrated ≡ from-scratch
    // rebuild under the NEW quantizer, hash-checked — and because the
    // tombstone log carries across versions, a migration fed the
    // pre-deletion snapshot cannot resurrect the erased ids.
    "q284_sq8_index_migration" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = sq8EncPartitioned(s, dir, "sq8_enc_cf_part_mig_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 25 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        // the drifted current corpus still CONTAINS the erased ids (a
        // pre-deletion export — the at-least-once world); the carried
        // tombstone log must keep them out of the refit and the re-encode
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.pipeline.IndexMigration.migrateSq8(s, root, current, "c_id", "cvec",
          nlist = 32)
        readEncExploded(s, root)
      },
      Some(s"""WITH ${cfFilteredCte(
               "vec_id % 32 NOT IN (5, 6, 7) AND NOT (vec_id % 32 = 25 AND vec_id % 3 = 0)")},
             |$cfKmeansCtes,
             |$sq8EncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(c.pos - 1 AS BIGINT) AS j, c.code
             |FROM asg a JOIN scodes c ON c.vec_id = a.vec_id
             |ORDER BY 1, 3""".stripMargin)),

    // SAMPLED-TRAINING migration (r19 verdict task 3 — the 100 TB shape):
    // PERF_r19 §1 measured migration wall dominated by the training
    // collects, which run Lloyd over EVERY survivor per iteration — linear
    // in the corpus. The standard fix is train-on-sample/encode-full:
    // centroids and codebooks train on a FIXED-SIZE deterministic sample
    // (the 256 survivors with the lowest (hashShard priority, id) — the
    // same mixing hash the token-budget mixer uses, mirrored
    // token-for-token in SQL), and only the one-pass re-encode scales
    // with the corpus. The oracle derives the SAME sample (ORDER BY
    // hash-priority LIMIT 256), trains the whole quantizer on it from
    // scratch, and encodes the full drifted survivor corpus: sampled-
    // trained migrated ≡ oracle's sampled-trained rebuild, hash-checked.
    // ScaleStress (PERF_r20) carries the wall-flatness measurement.
    "q285_sampled_training_migration" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_smig_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 11 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        graft.pipeline.IndexMigration.migrate(s, root, current, "c_id", "cvec",
          nlist = 32, m = PqM, ksub = PqKsub, dim = 64,
          trainSampleN = Some(256))
        readEncExploded(s, root)
      },
      Some(s"""WITH ${cfFilteredCte(
               "vec_id % 32 NOT IN (5, 6, 7) AND NOT (vec_id % 32 = 11 AND vec_id % 3 = 0)")},
             |smp AS (
             |  SELECT vec_id, v FROM cf
             |  ORDER BY ${graft.operators.Sampling.hashShardSql("vec_id", 1000003)}, vec_id
             |  LIMIT 256),
             |${kmeansCtesOn("smp", "", asgSrc = "cf")},
             |${rawEncodeCtesOn(trainSrc = "smp", encSrc = "cf")}
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN pcodes co ON co.vec_id = a.vec_id
             |ORDER BY 1, 3""".stripMargin)),

    // MIGRATION ROLLBACK (r19 verdict missing #4): q280's canary gate
    // makes the promote/demote DECISION, but a keepOld-less migration
    // deletes the old root — a canary deciding AGAINST v2 after the swap
    // had nothing to restore. Here the full lifecycle runs: erase on v1
    // (logged), migrate with keepOld=true on a drifted snapshot, erase
    // MORE ids against the live v2, then roll back. The restored index
    // must be the V1-QUANTIZER encode with EVERY erasure still applied —
    // the pre-migration one (v1 was repaired in place) and the
    // post-migration one (rollback replays the version-free tombstone
    // log against the restored generation). Oracle: the standing
    // full-corpus v1 training + encode SQL with both tombstone
    // predicates excluded. Erasure survives the round trip; the v2
    // content is retained at its versioned sibling for roll-forward.
    "q287_migration_rollback" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = pqEncPartitioned(s, dir, "pq_enc_raw_cf_part_rb_v1")
        // pre-migration erasure, repaired against the live v1
        val tomb1 = cf.filter(col("vec_id") % 32 === 29 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched1 = AnnIndex.ivfAssignTrained(tomb1, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched1, "c_id", tomb1)
        // keepOld migration on the drifted corpus
        val current = cf.filter(!(col("vec_id") % 32).isin(5, 6, 7))
          .select(col("vec_id").as("c_id"), col("cvec"))
        val mig = graft.pipeline.IndexMigration.migrate(s, root, current,
          "c_id", "cvec", nlist = 32, m = PqM, ksub = PqKsub, dim = 64,
          keepOld = true)
        // post-migration erasure, repaired against the live v2 under the
        // NEW quantizer's assignment (the completeness contract)
        val tomb2 = cf.filter(col("vec_id") % 32 === 3 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched2 = AnnIndex.ivfAssignTrained(tomb2, "c_id", "cvec", mig.cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched2, "c_id", tomb2)
        // the canary decides against v2: restore v1, erasures intact
        graft.pipeline.IndexMigration.rollback(s, root, "cell", "c_id")
        readEncExploded(s, root)
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |$cfRawEncodeCtes
             |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
             |  CAST(co.j AS BIGINT) AS j, CAST(co.code AS BIGINT) AS code
             |FROM asg a JOIN pcodes co ON co.vec_id = a.vec_id
             |WHERE NOT (a.vec_id % 32 = 29 AND a.vec_id % 3 = 0)
             |  AND NOT (a.vec_id % 32 = 3 AND a.vec_id % 3 = 0)
             |ORDER BY 1, 3""".stripMargin)),

    // SQ8 erasure is QUERY-VISIBLE (the q259 guarantee on the fourth
    // chain): a top-k SERVED from the repaired SQ8 artifact — candidates
    // decoded from the stored byte codes, reconstruction arithmetic
    // identical to encoding live — must rank exactly as an index rebuilt
    // from the survivors, i.e. no erased id retrievable at any rank, for
    // any probe. The oracle reruns the trained SQ8 probe chain with the
    // tombstoned ids excluded from the CANDIDATE relation.
    "q288_sq8_erasure_query_visibility" -> Q(
      (s, dir) => {
        val cf = clusteredDf(s, dir)
        val (root, cents) = sq8EncPartitioned(s, dir, "sq8_enc_cf_part_v1")
        val tomb = cf.filter(col("vec_id") % 32 === 9 && col("vec_id") % 3 === 0)
          .select(col("vec_id").as("c_id"), col("cvec"))
        val touched = AnnIndex.ivfAssignTrained(tomb, "c_id", "cvec", cents.toSeq)
          .select("cell").distinct().collect().map(_.getLong(0)).toSeq // ≤ nlist rows
        graft.pipeline.IndexErasure.repairErased(s, root, "cell", touched, "c_id", tomb)
        val enc = graft.pipeline.IndexErasure.readPartitioned(s, root, "cell")
        val queries = cf.filter(col("vec_id") < 20)
          .select(col("vec_id").as("q_id"), col("cvec").as("q_vec"))
        AnnIndex.sq8TopKEncoded(queries, "q_id", "q_vec", enc, "c_id",
          k = 3, nlist = 32, nprobe = 4,
          params = sq8ParamsOf(s, dir), coarseCentroids = cents)
      },
      Some(s"""WITH $cfCte,
             |$cfKmeansCtes,
             |${sq8ChainCtes(maxNprobe = 4, qSrc = "cf",
                 candWhere = " AND NOT (a.vec_id % 32 = 9 AND a.vec_id % 3 = 0)")}
             |SELECT q_id, c_id, ${frs("d", 6)} AS score, CAST(rn AS BIGINT) AS rn
             |FROM (
             |  SELECT q_id, c_id, d,
             |    row_number() OVER (PARTITION BY q_id ORDER BY ${frs("d", 6)}, c_id) AS rn
             |  FROM sadist)
             |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin)),

    // The SQ8 A/B CUTOVER GATE — q280's canary decision for the scalar
    // chain, measuring the axis q280 cannot see: CODE fidelity. q280
    // counts budgeted-candidate hits (a pure cell-assignment signal);
    // here the budgeted candidates are RANKED by SQ8 asymmetric distance
    // and only the top-10 count, so the gate prices the quantizer's
    // reconstruction too. Under the stale per-dim min/max (trained on the
    // pre-drift value regime, span ~±5·10⁵) the drifted corpus
    // (÷100 + 7000, span ~10⁴) compresses into 2–3 byte codes per
    // dimension — reconstructions collapse, ADC ranking degenerates to
    // the id tiebreak; migrateSq8's refit restores 255-code resolution.
    // Oracle: both quantizers derived from scratch (stale sqp on cf,
    // refit on cfd; stale cells on cf, refit on cfd), both rankings
    // re-ranked in SQL, integer promote decision — all hash-checked.
    "q291_sq8_migration_ab_gate" -> Q(
      (s, dir) => {
        import graft.functions.MathFunctions.floorRound
        import org.apache.spark.sql.expressions.Window
        val cf = clusteredDf(s, dir)
        val (root, staleCents) = sq8EncPartitioned(s, dir, "sq8_enc_cf_part_ab_v1")
        val staleParams = sq8ParamsOf(s, dir)
        val drifted = cf.select(col("vec_id"),
          expr("transform(cvec, x -> floor(x / 100.0D) + 7000.0D)").as("cvec"))
          .cache()
        val mig = graft.pipeline.IndexMigration.migrateSq8(s, root,
          drifted.select(col("vec_id").as("c_id"), col("cvec")), "c_id", "cvec",
          nlist = 32)
        val refitParams = mig.codebooks(0)(0).zip(mig.codebooks(1)(0)).toArray
        // nCorpus == drifted.count() (no tombstone log on the A/B root)
        val budget = (2L * mig.nCorpus / 32L).toInt
        val queries = drifted.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_id"), col("cvec").as("qv"))
        val truth = queries.crossJoin(drifted)
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("__d", l2NormSq(col("qv")) + l2NormSq(col("cvec"))
            - lit(2.0) * dot(col("qv"), col("cvec")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(col("__d"), col("vec_id"))))
          .filter(col("rn") <= 10)
          .select(col("q_id"), col("vec_id").as("c_id")).cache()
        val tn = truth.count()
        def phase(cents: Array[Seq[Double]],
                  params: Array[(Double, Double)]): (Long, Long) = {
          val members = AnnIndex.ivfAssignTrained(drifted, "vec_id", "cvec", cents.toSeq)
            .join(drifted, "vec_id")
            .withColumn("mrn", row_number().over(
              Window.partitionBy("cell").orderBy("vec_id")))
            .filter(col("mrn") <= budget)
            .withColumn("__xh", AnnIndex.sq8Reconstruct(asDouble(col("cvec")), params))
            .withColumn("__x2", l2NormSq(col("__xh")))
          val qcell = AnnIndex.ivfAssignTrained(
            queries.select(col("q_id").as("vec_id"), col("qv").as("cvec")),
            "vec_id", "cvec", cents.toSeq)
            .select(col("vec_id").as("q_id"), col("cell"))
          val qvn = queries.withColumn("__qv", asDouble(col("qv")))
            .withColumn("__q2", l2NormSq(col("__qv")))
            .select("q_id", "__qv", "__q2")
          // ranked size and truth hits in ONE pass (left join against the
          // distinct truth pairs cannot multiply rows) — previously a
          // cached count + a second join job
          val r = qcell.join(members, "cell")
            .filter(col("vec_id") =!= col("q_id"))
            .join(qvn, "q_id")
            .withColumn("__dist", floorRound(
              col("__q2") + col("__x2") - lit(2.0) * dot(col("__qv"), col("__xh")), 6))
            .withColumn("rn", row_number().over(
              Window.partitionBy("q_id").orderBy(col("__dist"), col("vec_id"))))
            .filter(col("rn") <= 10)
            .select(col("q_id"), col("vec_id").as("c_id"))
            .join(truth.withColumn("__t", lit(1L)), Seq("q_id", "c_id"), "left")
            .agg(count(lit(1L)).as("nr"),
              sum(coalesce(col("__t"), lit(0L))).as("h"))
            .head()
          (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
        }
        val (mNr, mH) = phase(mig.cents, refitParams)
        val (sNr, sH) = phase(staleCents, staleParams)
        val promote = if (mH > sH) 1L else 0L
        import s.implicits._
        val out = Seq(
          ("migrated", mNr, mH, mH.toDouble / tn, promote),
          ("stale", sNr, sH, sH.toDouble / tn, promote))
          .toDF("phase", "n_ranked", "n_hits", "recall", "promote_v2")
        drifted.unpersist(); truth.unpersist()
        out.withColumn("recall", floorRound(col("recall"), 6))
          .orderBy("phase")
      },
      Some {
        val dist = (xh: String) =>
          s"${sqSql("q.v")} + ${sqSql(xh)} - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, $xh)"
        def xhCte(name: String, sqp: String) =
          s"""$name AS (
             |  SELECT vec_id, list(xh ORDER BY pos) AS xhat FROM (
             |    SELECT f.vec_id, p.pos,
             |      CASE WHEN p.mx - p.mn > 0 THEN
             |        p.mn + least(greatest(floor((f.v[CAST(p.pos AS INTEGER)] - p.mn) * CAST(255.0 AS DOUBLE) / (p.mx - p.mn)),
             |          CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) * (p.mx - p.mn) / CAST(255.0 AS DOUBLE)
             |      ELSE p.mn END AS xh
             |    FROM cfd f CROSS JOIN $sqp p)
             |  GROUP BY vec_id)""".stripMargin
        def top10Cte(name: String, asg: String, mem: String, xh: String) =
          s"""$name AS (
             |  SELECT q_id, c_id FROM (
             |    SELECT s.q_id, m.vec_id AS c_id,
             |      row_number() OVER (PARTITION BY s.q_id
             |        ORDER BY ${frs(dist("x.xhat"), 6)}, m.vec_id) AS rn
             |    FROM (SELECT a.vec_id AS q_id, a.cell FROM $asg a JOIN qd ON qd.q_id = a.vec_id) s
             |    JOIN $mem m ON m.cell = s.cell AND m.vec_id <> s.q_id
             |    JOIN $xh x ON x.vec_id = m.vec_id
             |    JOIN qd q ON q.q_id = s.q_id)
             |  WHERE rn <= 10)""".stripMargin
        s"""WITH $cfCte,
           |cfd AS (
           |  SELECT vec_id, list_transform(v,
           |    x -> floor(x / CAST(100.0 AS DOUBLE)) + CAST(7000.0 AS DOUBLE)) AS v
           |  FROM cf),
           |$cfKmeansCtes,
           |${kmeansCtesOn("cfd", "n")},
           |bud AS (SELECT CAST(2 * count(*) / 32 AS BIGINT) AS b FROM cfd),
           |qd AS (SELECT vec_id AS q_id, v FROM cfd WHERE vec_id < 5),
           |tr AS (
           |  SELECT q_id, c_id FROM (
           |    SELECT q.q_id, c.vec_id AS c_id,
           |      row_number() OVER (PARTITION BY q.q_id ORDER BY
           |        ${sqSql("q.v")} + ${sqSql("c.v")}
           |          - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, c.v), c.vec_id) AS rn
           |    FROM qd q JOIN cfd c ON c.vec_id <> q.q_id)
           |  WHERE rn <= 10),
           |tcnt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM tr),
           |sasg AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT f.vec_id, c.ci AS cell,
           |      row_number() OVER (PARTITION BY f.vec_id
           |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
           |    FROM cfd f CROSS JOIN cents c)
           |  WHERE rn = 1),
           |ssqp AS (
           |  SELECT pos, min(comp) AS mn, max(comp) AS mx FROM (
           |    SELECT unnest(v) AS comp, generate_subscripts(v, 1) AS pos FROM cf)
           |  GROUP BY pos),
           |nsqp AS (
           |  SELECT pos, min(comp) AS mn, max(comp) AS mx FROM (
           |    SELECT unnest(v) AS comp, generate_subscripts(v, 1) AS pos FROM cfd)
           |  GROUP BY pos),
           |${xhCte("sxh", "ssqp")},
           |${xhCte("nxh", "nsqp")},
           |smem AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell,
           |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
           |    FROM sasg) x, bud WHERE x.mrn <= bud.b),
           |nmem AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT vec_id, cell,
           |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
           |    FROM nasg) x, bud WHERE x.mrn <= bud.b),
           |${top10Cte("s10", "sasg", "smem", "sxh")},
           |${top10Cte("n10", "nasg", "nmem", "nxh")},
           |sstat AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM s10) AS nr,
           |  (SELECT CAST(count(*) AS BIGINT) FROM s10 JOIN tr USING (q_id, c_id)) AS h),
           |nstat AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM n10) AS nr,
           |  (SELECT CAST(count(*) AS BIGINT) FROM n10 JOIN tr USING (q_id, c_id)) AS h)
           |SELECT phase, n_ranked, n_hits, recall, promote_v2 FROM (
           |  SELECT 'migrated' AS phase, nn.nr AS n_ranked, nn.h AS n_hits,
           |    ${frs("CAST(nn.h AS DOUBLE) / CAST(t.t AS DOUBLE)", 6)} AS recall,
           |    CAST(nn.h > ss.h AS BIGINT) AS promote_v2
           |  FROM nstat nn, sstat ss, tcnt t
           |  UNION ALL
           |  SELECT 'stale', ss.nr, ss.h,
           |    ${frs("CAST(ss.h AS DOUBLE) / CAST(t.t AS DOUBLE)", 6)},
           |    CAST(nn.h > ss.h AS BIGINT)
           |  FROM nstat nn, sstat ss, tcnt t)
           |ORDER BY phase""".stripMargin
      }),
  )

  /** SQ8 chain over `cf`/`cents`/`asg` (prefix `s`): per-dim min/max params
    * (sqp), per-vector reconstruction (sqx — mirror of
    * [[graft.operators.AnnIndex.sq8Candidates]] token-for-token: floor of
    * (x−mn)·255/(mx−mn) clamped to [0,255], reconstructed at
    * mn + code·(mx−mn)/255), probes to rank `maxNprobe` (sprobes), and the
    * asymmetric distance relation sadist(q_id, c_id, d, probe_rn). Shared
    * by the frontier (q197) and the re-rank audit (q209).
    */
  private def sq8ChainCtes(maxNprobe: Int, qSrc: String,
                           candWhere: String = ""): String =
    s"""sqp AS (
       |  SELECT pos, min(comp) AS mn, max(comp) AS mx FROM (
       |    SELECT unnest(v) AS comp, generate_subscripts(v, 1) AS pos FROM cf)
       |  GROUP BY pos),
       |sqx AS (
       |  SELECT vec_id, list(xh ORDER BY pos) AS xhat FROM (
       |    SELECT f.vec_id, p.pos,
       |      CASE WHEN p.mx - p.mn > 0 THEN
       |        p.mn + least(greatest(floor((f.v[CAST(p.pos AS INTEGER)] - p.mn) * CAST(255.0 AS DOUBLE) / (p.mx - p.mn)),
       |          CAST(0.0 AS DOUBLE)), CAST(255.0 AS DOUBLE)) * (p.mx - p.mn) / CAST(255.0 AS DOUBLE)
       |      ELSE p.mn END AS xh
       |    FROM cf f CROSS JOIN sqp p)
       |  GROUP BY vec_id),
       |sprobes AS (
       |  SELECT vec_id AS q_id, cell, rn FROM (
       |    SELECT f.vec_id, c.ci AS cell,
       |      row_number() OVER (PARTITION BY f.vec_id
       |        ORDER BY c.c2 - CAST(2.0 AS DOUBLE) * list_inner_product(f.v, c.cv), c.ci) AS rn
       |    FROM $qSrc f CROSS JOIN cents c WHERE f.vec_id < 20)
       |  WHERE rn <= $maxNprobe),
       |sadist AS (
       |  SELECT p.q_id, a.vec_id AS c_id,
       |    ${sqSql("q.v")} + ${sqSql("x.xhat")}
       |      - CAST(2.0 AS DOUBLE) * list_inner_product(q.v, x.xhat) AS d,
       |    CAST(p.rn AS BIGINT) AS probe_rn
       |  FROM sprobes p
       |  JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id$candWhere
       |  JOIN sqx x ON x.vec_id = a.vec_id
       |  JOIN $qSrc q ON q.vec_id = p.q_id)""".stripMargin

  /** One scenario of the cell-occupancy PSI finish over `po` (prev per-cell
    * counts) and `asg` (trained-cell assignments) — mirrors
    * [[graft.operators.Validate.psiGateFromCounts]] exactly (full-outer
    * join, coalesce, global totals, minP = 1e-6 floor, floor-rounded sum).
    * `scenario == null` omits the scenario column (the streaming row's
    * single-scenario shape).
    */
  private def cellPsiScenarioSql(scenario: String, nextWhere: String): String = {
    val scenSel = Option(scenario).map(sc => s"'$sc' AS scenario, ").getOrElse("")
    val psi = frs("sum((p - q) * ln(p / q))", 6)
    s"""SELECT $scenSel$psi AS psi,
       |  CAST(min(tp) AS BIGINT) AS n_prev, CAST(min(tn) AS BIGINT) AS n_next,
       |  CAST($psi > CAST(0.25 AS DOUBLE) AS BIGINT) AS is_drift
       |FROM (
       |  SELECT greatest(CAST(pn AS DOUBLE) / CAST(tp AS DOUBLE), CAST(1.0E-6 AS DOUBLE)) AS p,
       |    greatest(CAST(nn AS DOUBLE) / CAST(tn AS DOUBLE), CAST(1.0E-6 AS DOUBLE)) AS q,
       |    tp, tn
       |  FROM (
       |    SELECT pn, nn, CAST(sum(pn) OVER () AS BIGINT) AS tp,
       |      CAST(sum(nn) OVER () AS BIGINT) AS tn
       |    FROM (
       |      SELECT coalesce(po.pn, 0) AS pn, coalesce(nx.nn, 0) AS nn
       |      FROM po FULL OUTER JOIN (
       |        SELECT cell, CAST(count(*) AS BIGINT) AS nn FROM asg
       |        WHERE $nextWhere GROUP BY cell) nx
       |      ON po.cell = nx.cell)))""".stripMargin
  }
}
