package graft.queries

import graft.Tables
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Multimodal-pillar queries: perceptual hashing of opaque media blobs,
  * perceptual near-dup pairing, caption↔frame (text↔media) joins, and
  * modality-aware curation. Media inputs derive from the fixture `documents`
  * table — raw text bytes stand in for a decoded media signal, re-encoded
  * "renditions" are simulated by in-place byte substitution (the
  * length-preserving analog of pixel noise), and looped/padded blobs simulate
  * decode junk with repeated frames. Domain note: the Spark side hashes
  * UTF-8 BYTES; most oracles here index CHARACTERS and coincide because the
  * fixture corpus is pure ASCII — q184 pins the byte semantics themselves
  * on a non-ASCII corpus with a byte-domain oracle (hex(encode(...))), so
  * the equivalence is hash-checked rather than assumed.
  */
object MultimodalQueries {

  private val frs = graft.functions.MathFunctions.floorRoundSql _

  /** CTE chain `pos → byt → agg → grid → dens → adj → dh(id, dhash)`
    * computing the 60-bit byte-level dHash of table `media(id, m)` — the SQL
    * mirror of [[graft.functions.expressions.PerceptualHash.dhash]]: 61
    * buckets via `(p*61)//n`, cross-multiplied adjacent-mean comparison.
    * Dense 0..60 grid so `lead` always sees bucket k+1 even when a bucket is
    * empty (short blobs).
    */
  private[queries] val dhashCtes: String =
    """pos AS (
      |  SELECT id, m, length(m) AS n, unnest(generate_series(0, length(m)-1)) AS p
      |  FROM media WHERE length(m) > 0),
      |byt AS (
      |  SELECT id, n, (p * 61) // n AS bkt,
      |    CAST(ascii(substr(m, CAST(p + 1 AS INTEGER), 1)) AS BIGINT) AS v
      |  FROM pos),
      |agg AS (
      |  SELECT id, bkt, CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
      |  FROM byt GROUP BY 1, 2),
      |grid AS (
      |  SELECT id, k FROM (SELECT DISTINCT id FROM agg),
      |    (SELECT unnest(generate_series(0, 60)) AS k)),
      |dens AS (
      |  SELECT g.id, g.k, coalesce(a.s, 0) AS s, coalesce(a.c, 0) AS c
      |  FROM grid g LEFT JOIN agg a ON a.id = g.id AND a.bkt = g.k),
      |adj AS (
      |  SELECT id, k, s, c,
      |    lead(s) OVER (PARTITION BY id ORDER BY k) AS s2,
      |    lead(c) OVER (PARTITION BY id ORDER BY k) AS c2
      |  FROM dens),
      |dh AS (
      |  SELECT id, CAST(sum(CASE WHEN s * c2 > s2 * c
      |    THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash
      |  FROM adj WHERE k < 60 GROUP BY 1)""".stripMargin

  /** CTE chain `bk → cand → pairs(id_a, id_b, hamming)`: 4×15-bit band
    * candidates over `dh(id, dhash)` filtered to `maxHamming` — mirrors
    * [[Multimodal.mediaDupPairs]]'s banding exactly (the oracle checks the
    * operator's semantics INCLUDING its banding recall, as q22c does for
    * SimHash).
    */
  private def bandPairCtes(maxHamming: Int): String =
    s"""bk AS (
       |  SELECT id, dhash, b, (dhash >> CAST(b * 15 AS INTEGER)) & 32767 AS chunk
       |  FROM dh, (SELECT unnest(generate_series(0, 3)) AS b)),
       |cand AS (
       |  SELECT x.id AS id_a, y.id AS id_b, min(x.dhash) AS ha, min(y.dhash) AS hb
       |  FROM bk x JOIN bk y ON x.b = y.b AND x.chunk = y.chunk AND x.id < y.id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
       |  FROM cand WHERE bit_count(xor(ha, hb)) <= $maxHamming)""".stripMargin

  /** Per-frame rolling checksum of `m` windowed at `fb` bytes — the SQL
    * mirror of [[Multimodal.sampleFrames]]'s checksum (q46's oracle shape).
    */
  private def frameCtes(fb: Int): String =
    s"""f AS (
       |  SELECT id, m, unnest(generate_series(0,
       |    CAST(floor((length(m)-1) / CAST($fb AS DOUBLE)) AS BIGINT))) AS frame_id
       |  FROM media),
       |fr AS (
       |  SELECT id, frame_id,
       |    CAST(length(substr(m, CAST(frame_id*$fb+1 AS INTEGER), $fb)) AS BIGINT) AS n_bytes,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(1, length(substr(m, CAST(frame_id*$fb+1 AS INTEGER), $fb))),
       |        i -> CAST(ascii(substr(substr(m, CAST(frame_id*$fb+1 AS INTEGER), $fb), CAST(i AS INTEGER), 1)) AS BIGINT))),
       |      (acc, x) -> (acc * 31 + x) % 1000000007) AS checksum
       |  FROM f),
       |ma AS (
       |  SELECT id, CAST(count(*) AS BIGINT) AS n_frames,
       |    CAST(sum(n_bytes) AS BIGINT) AS media_bytes,
       |    CAST(count(DISTINCT checksum) AS BIGINT) AS distinct_frames
       |  FROM fr GROUP BY 1)""".stripMargin

  /** The rendition corpus: two media renditions per document — the original
    * bytes and a "re-encoded" copy with the first 4 bytes substituted
    * in place (uppercased). Length-preserving, so bucket boundaries align
    * and the perceptual hashes sit within hamming ≤ 2 of each other.
    */
  private def renditionCte(cap: Option[Int] = None): String = {
    val filt = cap.map(c => s" WHERE doc_id < $c").getOrElse("")
    s"""media AS (
      |  SELECT doc_id * 2 AS id, text AS m, text AS caption, source, n_chars FROM documents$filt
      |  UNION ALL
      |  SELECT doc_id * 2 + 1, upper(substr(text, 1, 4)) || substr(text, 5), text, source, n_chars
      |  FROM documents$filt)""".stripMargin
  }
  private val renditionCteAll: String = renditionCte()

  private def renditionDf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.documents(s, dir)
    d.select((col("doc_id") * 2).as("id"), col("text").as("m"),
        col("text").as("caption"), col("source"), col("n_chars"))
      .unionAll(d.select((col("doc_id") * 2 + 1).as("id"),
        concat(upper(substring(col("text"), 1, 4)),
          expr("substring(text, 5, length(text))")).as("m"),
        col("text").as("caption"), col("source"), col("n_chars")))
  }

  /** Media with shared trailer segments: 4 content frames (text padded to
    * 512) + a 2-frame outro shared by every document in the same
    * (source, doc_id % 25) group — simulated intro/outro reuse, the
    * footage-level duplication [[Multimodal.frameAlignSpans]] targets.
    */
  private val TrailerMediaSpark: String =
    "concat(rpad(text, 512, ' '), repeat(rpad(concat(source, '#', CAST(doc_id % 25 AS STRING)), 128, '.'), 2))"
  private val TrailerMediaSql: String =
    "rpad(text, 512, ' ') || repeat(rpad(source || '#' || CAST(doc_id % 25 AS VARCHAR), 128, '.'), 2)"

  /** [[TrailerMediaSpark]]'s perceptual sibling: the outro body is the
    * md5 hex of the group key repeated as the pad fill — a pseudo-random
    * per-group texture, so different groups' outros sit far apart in dHash
    * (dot-padding, or even the raw key as fill, leaves all outros with the
    * same gradient SHAPE and they collapse into one perceptual bucket) —
    * and odd doc ids carry a 2-byte "re-encode" head ('xx' → 'XX'). Head
    * noise only moves bucket 0, so mixed-parity pairs in a trailer group
    * align PERCEPTUALLY (hamming ≤ 1) while never matching by checksum.
    */
  private val NoisedTrailerSpark: String =
    "concat(rpad(text, 512, ' '), repeat(concat(" +
      "CASE WHEN doc_id % 2 = 0 THEN 'xx' ELSE 'XX' END, " +
      "rpad(md5(concat(source, '#', CAST(doc_id % 25 AS STRING))), 126, " +
      "md5(concat(source, '#', CAST(doc_id % 25 AS STRING))))), 2))"
  private val NoisedTrailerSql: String =
    "rpad(text, 512, ' ') || repeat((CASE WHEN doc_id % 2 = 0 THEN 'xx' ELSE 'XX' END) || " +
      "rpad(md5(source || '#' || CAST(doc_id % 25 AS VARCHAR)), 126, " +
      "md5(source || '#' || CAST(doc_id % 25 AS VARCHAR))), 2)"

  /** Slim frame rows of the trailer corpus, optionally filtered — the unit
    * both frame-index artifacts materialize. */
  private def trailerFrames(s: org.apache.spark.sql.SparkSession, dir: String,
                            docFilter: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
    val media = Tables.documents(s, dir).filter(docFilter)
      .select(col("doc_id"), expr(TrailerMediaSpark).as("m"))
    Multimodal.sampleFrames(s, media, frameBytes = 128, idCol = "doc_id", textCol = "m")
      .select(col("doc_id"), col("frame_id"), col("checksum"))
  }

  /** The FULL trailer-corpus frame index as a parquet artifact (r12 verdict
    * task 1): deterministic in (dir, frameBytes, corpus formula) — the key
    * bakes both parameters in, the store's fingerprint covers the fixture. */
  private def trailerFrameIndex(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame =
    graft.pipeline.ArtifactStore.loadOrBuild(s,
      graft.pipeline.ArtifactStore.rootFor(dir, "frames_trailer_fb128_v1")) {
      trailerFrames(s, dir, lit(true))
    }

  def all: ListMap[String, Q] = ListMap(
    // Perceptual hashes of the raw media signal: both the gradient (dHash)
    // and average (aHash) 60-bit variants, hash-checked bit-for-bit.
    "q158_media_dhash" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          Multimodal.dHash(col("text").cast("binary")).as("dhash"),
          Multimodal.aHash(col("text").cast("binary")).as("ahash"))
        .orderBy("doc_id"),
      Some(s"""WITH media AS (SELECT doc_id AS id, text AS m FROM documents),
             |$dhashCtes,
             |agg60 AS (
             |  SELECT id, (p * 60) // n AS bkt, CAST(sum(CAST(ascii(substr(m, CAST(p + 1 AS INTEGER), 1)) AS BIGINT)) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM pos GROUP BY 1, 2),
             |tot AS (
             |  SELECT id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tc
             |  FROM agg60 GROUP BY 1),
             |ah AS (
             |  SELECT a.id, CAST(sum(CASE WHEN a.s * t.tc > t.ts * a.c
             |    THEN (CAST(1 AS BIGINT) << CAST(a.bkt AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash
             |  FROM agg60 a JOIN tot t ON a.id = t.id GROUP BY 1)
             |SELECT d.doc_id, coalesce(dh.dhash, 0) AS dhash, coalesce(ah.ahash, 0) AS ahash
             |FROM documents d
             |LEFT JOIN dh ON dh.id = d.doc_id
             |LEFT JOIN ah ON ah.id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // Perceptual near-dup pairing across media renditions: every document
    // appears as two byte-level renditions; the banded dHash join must
    // recover each original↔re-encode pair (hamming ≤ 2 ≤ τ=3, within the
    // 4×15 banding's guaranteed-recall radius) without any all-pairs scan.
    "q159_media_dup_pairs" -> Q(
      (s, dir) => Multimodal.mediaDupPairs(renditionDf(s, dir), "id", "m", maxHamming = 3),
      Some(s"""WITH ${renditionCteAll},
             |$dhashCtes,
             |${bandPairCtes(maxHamming = 3)}
             |SELECT id_a, id_b, hamming FROM pairs ORDER BY 1, 2""".stripMargin)),

    // Caption↔frame join: media = looped+padded renditions (rpad to 512,
    // repeated 1 + doc_id % 3 times — simulated decode junk with exactly
    // repeating frames), captions = the raw text. The per-record report
    // joins frame-side stats (count, bytes, duplicate-frame ratio) with
    // caption-side token counts on the shared key.
    "q160_caption_frame_stats" -> Q(
      (s, dir) => {
        val med = Tables.documents(s, dir).select(
          col("doc_id"), col("text"), col("source"),
          expr("repeat(rpad(text, 512, ' '), CAST(1 + doc_id % 3 AS INT))").as("m"))
        Multimodal.captionFrameStats(s, med, frameBytes = 256,
          idCol = "doc_id", textCol = "text", mediaCol = "m")
          .orderBy("doc_id")
      },
      Some(s"""WITH media AS (
             |  SELECT doc_id AS id, text, source,
             |    repeat(rpad(text, 512, ' '), CAST(1 + doc_id % 3 AS INTEGER)) AS m
             |  FROM documents),
             |${frameCtes(256)}
             |SELECT d.id AS doc_id, d.source,
             |  len(string_split(d.text, ' ')) AS caption_tokens,
             |  ma.n_frames, ma.media_bytes, ma.distinct_frames,
             |  ${frs("1 - CAST(ma.distinct_frames AS DOUBLE) / CAST(ma.n_frames AS DOUBLE)", 6)} AS dup_frame_ratio
             |FROM media d JOIN ma ON ma.id = d.id
             |ORDER BY doc_id""".stripMargin)),

    // Modality-aware curation over the rendition corpus: caption gate
    // (≥ 20 tokens) + media gates (≥ 2 frames at 128 B, duplicate-frame
    // ratio ≤ 0.5) + perceptual dedup (the higher-id rendition of every
    // surviving dHash pair within τ=3 is dropped) — the media-column analog
    // of the q57 text curation funnel.
    "q161_media_curate" -> Q(
      (s, dir) => Multimodal.curateMedia(s, renditionDf(s, dir), frameBytes = 128,
          minCaptionTokens = 20, minFrames = 2, maxDupFrameRatio = 0.5,
          maxHamming = 3, idCol = "id", textCol = "caption", mediaCol = "m")
        .select("id", "source", "n_chars")
        .orderBy("id"),
      curateOracle),

    // Temporal frame alignment: maximal runs of consecutive frames shared
    // at a constant offset between two media — the media analog of
    // exact-substring dedup (segment-level footage reuse, invisible to
    // whole-blob perceptual hashing). Candidates from ONE checksum
    // equi-join; the stop-frame filter (maxDf) drops degenerate frames
    // (here: the all-space padding frame short texts share) exactly like a
    // stopword list. Every same-group pair must report its 2-frame outro.
    // The frame index is an ArtifactStore artifact (r12 verdict task 1 —
    // the suffix-family materialize-once pattern on the media modality):
    // frames are a pure function of (corpus, frameBytes), so whichever of
    // q167/q181 runs first pays the framing pass and the other loads the
    // parquet. The df-cap + align join stay live — they need GLOBAL frame
    // frequencies and are the operator under audit.
    "q167_media_frame_align" -> Q(
      (s, dir) => Multimodal.frameAlignSpansFromFrames(
        trailerFrameIndex(s, dir), minRun = 2, maxDf = Some(60)),
      Some(frameAlignOracle)),

    // Incremental maintenance of the frame index (the q166 algebra on the
    // media modality, verdict r10 task 5): the standing corpus's frame
    // index (doc_id % 10 != 0) plus the delta batch's freshly-framed rows
    // must drive frameAlignSpansFromFrames to the EXACT full-rebuild
    // answer — q167's oracle verbatim. Frames are a pure function of the
    // blob and ids are immutable, so append IS the complete maintenance
    // algebra; the delta pass costs O(delta bytes / frameBytes). The
    // df-cap re-runs over the slim unioned index (it needs GLOBAL frame
    // frequencies — a stop-frame can become one only after the delta).
    // The STANDING side is a materialized artifact (the deployment shape:
    // the corpus index is built once and lives in the store); only the
    // delta batch frames live, costing O(delta bytes / frameBytes). The
    // union must still drive the align to the EXACT full-rebuild answer —
    // q167's oracle verbatim, maintenance ≡ rebuild as a checked hash.
    "q181_frame_index_incremental" -> Q(
      (s, dir) => {
        val standing = graft.pipeline.ArtifactStore.loadOrBuild(s,
          graft.pipeline.ArtifactStore.rootFor(dir, "frames_trailer_standing_fb128_v1")) {
          trailerFrames(s, dir, col("doc_id") % 10 =!= 0)
        }
        val delta = trailerFrames(s, dir, col("doc_id") % 10 === 0)
        Multimodal.frameAlignSpansFromFrames(standing.unionByName(delta),
          minRun = 2, maxDf = Some(60))
      },
      Some(frameAlignOracle)),

    // The streaming ingest gate over the same frame index: delta media
    // (doc_id % 10 == 0) arrive as a stream, frame checksums probe the
    // standing corpus's frame index stream-static, drained hits merge into
    // maximal duplicated frame runs — row-identical to the batch join the
    // oracle computes (the q157 pattern, media modality).
    "q168_stream_media_probe" -> Q(
      (s, dir) => graft.streaming.StreamingMedia.deltaFrameSpans(
        s, dir, cap = 500, frameBytes = 128, mediaExpr = TrailerMediaSpark),
      Some(s"""WITH media AS (
             |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents
             |  WHERE doc_id < 500),
             |${frameCtes(128)},
             |idx AS (SELECT DISTINCT checksum FROM fr WHERE id % 10 <> 0),
             |hits AS (
             |  SELECT DISTINCT f.id, f.frame_id AS pos
             |  FROM fr f JOIN idx USING (checksum) WHERE f.id % 10 = 0),
             |isl AS (
             |  SELECT id, pos, pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS g
             |  FROM hits)
             |SELECT id AS doc_id, min(pos) AS span_start,
             |  max(pos) - min(pos) + 1 AS span_len
             |FROM isl GROUP BY id, g ORDER BY doc_id, span_start""".stripMargin)),
    // PERCEPTUAL frame alignment: the q167 shape with per-frame dHashes and
    // a hamming tolerance instead of exact checksums — odd-id documents
    // carry a lightly "re-encoded" outro (two uppercased source chars), so
    // mixed-parity pairs in the same trailer group align ONLY through the
    // perceptual path. Stop-frames bound per band bucket.
    // The perceptual frame-hash index is an artifact too (same contract:
    // per-frame dHashes are a pure function of the corpus); the band join,
    // stop-frame cap, and island walk — the audited semantics — stay live.
    "q169_media_frame_align_phash" -> Q(
      (s, dir) => {
        val fh = graft.pipeline.ArtifactStore.loadOrBuild(s,
          graft.pipeline.ArtifactStore.rootFor(dir, "framehash_noised_fb128_v1")) {
          val media = Tables.documents(s, dir)
            .select(col("doc_id"), expr(NoisedTrailerSpark).as("m"))
          Multimodal.frameHashes(s, media, frameBytes = 128, idCol = "doc_id", mediaCol = "m")
        }
        Multimodal.frameAlignSpansPerceptualFromHashes(fh,
          minRun = 2, maxHamming = 3, maxDf = Some(60))
      },
      Some(s"""WITH med0 AS (
             |  SELECT doc_id AS mid, $NoisedTrailerSql AS mm FROM documents),
             |fmedia AS (
             |  SELECT mid * 1024 + f AS id,
             |    substr(mm, CAST(f*128+1 AS INTEGER), 128) AS m
             |  FROM med0, UNNEST(range(0,
             |    CAST(floor((length(mm)-1) / CAST(128 AS DOUBLE)) AS BIGINT) + 1)) AS t(f)),
             |${dhashCtes.replace("FROM media WHERE", "FROM fmedia WHERE")},
             |fbk AS (
             |  SELECT id, dhash, b, (dhash >> CAST(b * 15 AS INTEGER)) & 32767 AS chunk
             |  FROM dh, (SELECT unnest(generate_series(0, 3)) AS b)),
             |fkeep AS (
             |  SELECT b, chunk FROM fbk GROUP BY b, chunk
             |  HAVING count(DISTINCT id // 1024) <= 60),
             |fbf AS (SELECT fbk.* FROM fbk JOIN fkeep USING (b, chunk)),
             |fp AS (
             |  SELECT DISTINCT x.id // 1024 AS id_a, y.id // 1024 AS id_b,
             |    x.id % 1024 AS fa, y.id % 1024 AS fb, x.dhash AS ha, y.dhash AS hb
             |  FROM fbf x JOIN fbf y
             |    ON x.b = y.b AND x.chunk = y.chunk AND x.id // 1024 < y.id // 1024),
             |fm AS (
             |  SELECT id_a, id_b, fa, fb, fa - fb AS off FROM fp
             |  WHERE bit_count(xor(ha, hb)) <= 3),
             |fisl AS (
             |  SELECT id_a, id_b, off, fa, fb,
             |    fa - row_number() OVER (PARTITION BY id_a, id_b, off ORDER BY fa) AS g
             |  FROM fm),
             |fruns AS (
             |  SELECT id_a, id_b, off, g, min(fa) AS a_start, min(fb) AS b_start,
             |    CAST(count(*) AS BIGINT) AS n_frames
             |  FROM fisl GROUP BY 1, 2, 3, 4)
             |SELECT id_a, id_b, a_start, b_start, n_frames FROM fruns
             |WHERE n_frames >= 2 ORDER BY id_a, id_b, a_start, b_start""".stripMargin)),

    // The NON-ASCII leg of the media family (verdict r10 task 8): the Spark
    // side has always hashed UTF-8 BYTES; until now the oracles indexed
    // CHARACTERS and agreed only because the fixture is pure ASCII. This
    // corpus swaps 'a' → 'ä' (every occurrence becomes a 2-byte codepoint,
    // shifting all downstream byte offsets), and the oracle re-derives the
    // perceptual hashes in the BYTE domain (hex(encode(m)) + 2-hex-digit
    // slices) — the file-header caveat is now a hash-checked equivalence
    // instead of a comment.
    "q184_utf8_media_dhash" -> Q(
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), expr("replace(text, 'a', 'ä')").as("m"))
        .select(col("doc_id"),
          Multimodal.dHash(col("m").cast("binary")).as("dhash"),
          Multimodal.aHash(col("m").cast("binary")).as("ahash"))
        .orderBy("doc_id"),
      Some("""WITH media AS (
             |  SELECT doc_id AS id, replace(text, 'a', 'ä') AS m FROM documents),
             |bm AS (
             |  SELECT id, hex(encode(m)) AS hx,
             |    CAST(octet_length(encode(m)) AS BIGINT) AS n
             |  FROM media),
             |pos AS (
             |  SELECT id, hx, n, unnest(generate_series(0, n - 1)) AS p
             |  FROM bm WHERE n > 0),
             |byt AS (
             |  SELECT id, n, p,
             |    CAST(('0x' || substr(hx, CAST(2 * p + 1 AS INTEGER), 2)) AS BIGINT) AS v
             |  FROM pos),
             |agg AS (
             |  SELECT id, (p * 61) // n AS bkt, CAST(sum(v) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM byt GROUP BY 1, 2),
             |grid AS (
             |  SELECT id, k FROM (SELECT DISTINCT id FROM agg),
             |    (SELECT unnest(generate_series(0, 60)) AS k)),
             |dens AS (
             |  SELECT g.id, g.k, coalesce(a.s, 0) AS s, coalesce(a.c, 0) AS c
             |  FROM grid g LEFT JOIN agg a ON a.id = g.id AND a.bkt = g.k),
             |adj AS (
             |  SELECT id, k, s, c,
             |    lead(s) OVER (PARTITION BY id ORDER BY k) AS s2,
             |    lead(c) OVER (PARTITION BY id ORDER BY k) AS c2
             |  FROM dens),
             |dh AS (
             |  SELECT id, CAST(sum(CASE WHEN s * c2 > s2 * c
             |    THEN (CAST(1 AS BIGINT) << CAST(k AS INTEGER)) ELSE 0 END) AS BIGINT) AS dhash
             |  FROM adj WHERE k < 60 GROUP BY 1),
             |agg60 AS (
             |  SELECT id, (p * 60) // n AS bkt, CAST(sum(v) AS BIGINT) AS s,
             |    CAST(count(*) AS BIGINT) AS c
             |  FROM byt GROUP BY 1, 2),
             |tot AS (
             |  SELECT id, CAST(sum(s) AS BIGINT) AS ts, CAST(sum(c) AS BIGINT) AS tc
             |  FROM agg60 GROUP BY 1),
             |ah AS (
             |  SELECT a.id, CAST(sum(CASE WHEN a.s * t.tc > t.ts * a.c
             |    THEN (CAST(1 AS BIGINT) << CAST(a.bkt AS INTEGER)) ELSE 0 END) AS BIGINT) AS ahash
             |  FROM agg60 a JOIN tot t ON a.id = t.id GROUP BY 1)
             |SELECT d.doc_id, coalesce(dh.dhash, 0) AS dhash, coalesce(ah.ahash, 0) AS ahash
             |FROM documents d
             |LEFT JOIN dh ON dh.id = d.doc_id
             |LEFT JOIN ah ON ah.id = d.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // CROSS-MODAL retrieval (verdict r10 task 3): text finds media. A text
    // query hash-embeds and retrieves the top-3 CAPTIONED media by caption
    // cosine (the ANN text path, q62's exact-integer arithmetic), then the
    // perceptual frame/blob index expands each hit to its caption-LESS
    // renditions (hamming ≤ 3 band join) — the re-encoded copies a
    // caption-only search can never see. Both stages and their composition
    // are oracle-checked; candidates come from band equi-joins, never
    // all-pairs, and only (id, hash) rows shuffle.
    "q182_crossmodal_retrieval" -> Q(
      (s, dir) => {
        import graft.functions.MathFunctions.floorRound
        import graft.functions.TextFunctions.hamming64
        import graft.functions.VectorFunctions.cosine
        import org.apache.spark.sql.expressions.Window
        val emb = graft.pipeline.HashingEmbedder(64)
        val docs = Tables.documents(s, dir)
        // stage 1 — text→caption ANN: raw integer-count embeddings keep
        // dot/norms exact (the q62 contract); captions live on the EVEN
        // renditions only (re-encodes "lost" theirs)
        val qs = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("q_id"), emb.embedRaw(col("text")).as("qv"))
        val cap = docs.select((col("doc_id") * 2).as("media_id"),
          col("doc_id").as("cdoc"), emb.embedRaw(col("text")).as("cv"))
        val w = Window.partitionBy("q_id").orderBy(desc("score"), col("media_id"))
        val hits = cap.join(broadcast(qs), col("cdoc") =!= col("q_id"))
          .withColumn("score", floorRound(cosine(col("cv"), col("qv")), 6))
          .filter(col("score").isNotNull)
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("q_id", "rank", "media_id", "score")
        // stage 2 — perceptual expansion: retrieved ids probe the banded
        // whole-blob dHash index of the FULL rendition corpus
        val dh = renditionDf(s, dir)
          .select(col("id"), Multimodal.dHash(col("m").cast("binary")).as("ph"))
        val bk = Multimodal.banded(dh)
        val probe = hits.join(bk.withColumnRenamed("id", "media_id"), Seq("media_id"))
        val cand = probe.join(
          bk.select(col("id").as("rendition_id"), col("ph").as("ph_r"),
            col("band"), col("chunk")),
          Seq("band", "chunk"))
          .filter(col("rendition_id") =!= col("media_id"))
          .select("q_id", "rank", "media_id", "score", "rendition_id", "ph", "ph_r")
          .dropDuplicates("q_id", "media_id", "rendition_id")
          .withColumn("hamming", hamming64(col("ph"), col("ph_r")).cast("long"))
          .filter(col("hamming") <= 3)
        cand.select("q_id", "rank", "media_id", "score", "rendition_id", "hamming")
          .orderBy("q_id", "rank", "rendition_id")
      },
      Some(s"""WITH ${renditionCteAll},
             |$dhashCtes,
             |tok AS (
             |  SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
             |b0 AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |      list_transform(generate_series(1, length(w)),
             |        i -> CAST(ascii(substr(w, CAST(i AS INTEGER), 1)) AS BIGINT))),
             |      (acc, x) -> (acc * 31 + x) % 1000000007) % 64 AS bucket
             |  FROM tok),
             |cnt AS (SELECT doc_id, bucket, count(*) AS n FROM b0 GROUP BY 1, 2),
             |nrm AS (SELECT doc_id, sqrt(CAST(sum(n * n) AS DOUBLE)) AS nrm FROM cnt GROUP BY 1),
             |qn AS (SELECT doc_id AS q_id, nrm AS qnrm FROM nrm WHERE doc_id < 5),
             |dots AS (
             |  SELECT q.doc_id AS q_id, c.doc_id AS cdoc, CAST(sum(c.n * q.n) AS DOUBLE) AS dot
             |  FROM cnt c JOIN cnt q USING (bucket)
             |  WHERE q.doc_id < 5 AND c.doc_id <> q.doc_id
             |  GROUP BY 1, 2),
             |hits AS (
             |  SELECT q_id, rank, media_id, score FROM (
             |    SELECT qn.q_id, n.doc_id * 2 AS media_id,
             |      ${frs("coalesce(d.dot, CAST(0 AS DOUBLE)) / (n.nrm * qn.qnrm)", 6)} AS score,
             |      row_number() OVER (PARTITION BY qn.q_id
             |        ORDER BY ${frs("coalesce(d.dot, CAST(0 AS DOUBLE)) / (n.nrm * qn.qnrm)", 6)} DESC,
             |          n.doc_id * 2) AS rank
             |    FROM qn CROSS JOIN nrm n
             |    LEFT JOIN dots d ON d.q_id = qn.q_id AND d.cdoc = n.doc_id
             |    WHERE n.doc_id <> qn.q_id AND n.nrm > 0 AND qn.qnrm > 0)
             |  WHERE rank <= 3),
             |bk AS (
             |  SELECT id, dhash, b, (dhash >> CAST(b * 15 AS INTEGER)) & 32767 AS chunk
             |  FROM dh, (SELECT unnest(generate_series(0, 3)) AS b))
             |SELECT DISTINCT h.q_id, h.rank, h.media_id, h.score, y.id AS rendition_id,
             |  CAST(bit_count(xor(x.dhash, y.dhash)) AS BIGINT) AS hamming
             |FROM hits h
             |JOIN bk x ON x.id = h.media_id
             |JOIN bk y ON y.b = x.b AND y.chunk = x.chunk AND y.id <> h.media_id
             |WHERE bit_count(xor(x.dhash, y.dhash)) <= 3
             |ORDER BY q_id, rank, rendition_id""".stripMargin)),

    // The perceptual INGEST GATE through the streaming engine: delta
    // renditions (in-place head substitution) probe the standing corpus's
    // banded whole-blob dHash index stream-static; every rendition must
    // find its original within hamming 3 — the re-encoded-copy catch that
    // exact frame checksums (q168) cannot make. Stream ≡ the batch band
    // join the oracle computes.
    "q170_stream_phash_probe" -> Q(
      (s, dir) => graft.streaming.StreamingMedia.perceptualProbe(
        s, dir, cap = 500, maxHamming = 3),
      Some(s"""WITH ${renditionCte(Some(500))},
             |$dhashCtes,
             |pbk AS (
             |  SELECT id, dhash, b, (dhash >> CAST(b * 15 AS INTEGER)) & 32767 AS chunk
             |  FROM dh, (SELECT unnest(generate_series(0, 3)) AS b))
             |SELECT DISTINCT (y.id - 1) // 2 AS doc_id, x.id // 2 AS match_id,
             |  CAST(bit_count(xor(y.dhash, x.dhash)) AS BIGINT) AS hamming
             |FROM pbk x JOIN pbk y ON x.b = y.b AND x.chunk = y.chunk
             |WHERE x.id % 2 = 0 AND y.id % 2 = 1
             |  AND bit_count(xor(y.dhash, x.dhash)) <= 3
             |ORDER BY doc_id, match_id""".stripMargin)),

    // FRAME-INDEX ERASURE — the media limb of the artifact-erasure family
    // (q248 cells+codes, q253 bands, here the frame checksum index): the
    // trailer frame index is laid out ID-SHARDED (shard = doc_id div 64 —
    // a frame index has no coarse quantizer, so the deployment shards by
    // id range and a deletion's touched shards are PURE ARITHMETIC on the
    // tombstone ids, no assignment pass at all). IndexErasure rewrites
    // only the touched shard directories; the oracle re-frames the
    // SURVIVING corpus from scratch — repaired ≡ rebuilt as a hash.
    "q257_frame_index_erasure" -> Q(
      (s, dir) => {
        import graft.pipeline.{ArtifactStore, IndexErasure}
        val D = graft.functions.MathFunctions.longDiv _
        val root = ArtifactStore.rootFor(dir, "frames_trailer_part_fb128_s64_v1")
        IndexErasure.ensurePartitioned(s, root, "shard") {
          trailerFrames(s, dir, lit(true))
            .withColumn("shard", D(col("doc_id"), lit(64L)))
        }
        val tomb = Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
          .select(col("doc_id"))
        // id-sharded layout: touched derived from the tombstones inside
        // repairErasedByKey — completeness by construction (ADVICE r17)
        IndexErasure.repairErasedByKey(s, root, "shard", "doc_id", tomb)(
          id => D(id, lit(64L)))
        IndexErasure.readPartitioned(s, root, "shard")
          .select(col("doc_id"), col("frame_id"), col("checksum"), col("shard"))
          .orderBy("doc_id", "frame_id")
      },
      Some(s"""WITH media AS (
             |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents
             |  WHERE NOT (doc_id % 20 = 7)),
             |${frameCtes(128)}
             |SELECT id AS doc_id, frame_id, checksum, id // 64 AS shard
             |FROM fr ORDER BY 1, 2""".stripMargin)),

    // ... and the PERCEPTUAL frame-hash index gets the identical treatment
    // (q257's pattern on q169's artifact): per-frame dHashes of the noised
    // trailer corpus, id-sharded, touched shards pure arithmetic on the
    // tombstone ids; the oracle re-derives the surviving docs' frame
    // hashes from scratch in the byte domain.
    "q260_framehash_index_erasure" -> Q(
      (s, dir) => {
        import graft.pipeline.{ArtifactStore, IndexErasure}
        val D = graft.functions.MathFunctions.longDiv _
        val root = ArtifactStore.rootFor(dir, "framehash_noised_part_fb128_s64_v1")
        IndexErasure.ensurePartitioned(s, root, "shard") {
          val media = Tables.documents(s, dir)
            .select(col("doc_id"), expr(NoisedTrailerSpark).as("m"))
          Multimodal.frameHashes(s, media, frameBytes = 128, idCol = "doc_id", mediaCol = "m")
            .withColumn("shard", D(col("doc_id"), lit(64L)))
        }
        val tomb = Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
          .select(col("doc_id"))
        // id-sharded layout: touched derived inside repairErasedByKey
        IndexErasure.repairErasedByKey(s, root, "shard", "doc_id", tomb)(
          id => D(id, lit(64L)))
        IndexErasure.readPartitioned(s, root, "shard")
          .select(col("doc_id"), col("frame_id"), col("ph"), col("shard"))
          .orderBy("doc_id", "frame_id")
      },
      Some(s"""WITH med0 AS (
             |  SELECT doc_id AS mid, $NoisedTrailerSql AS mm FROM documents
             |  WHERE NOT (doc_id % 20 = 7)),
             |fmedia AS (
             |  SELECT mid * 1024 + f AS id,
             |    substr(mm, CAST(f*128+1 AS INTEGER), 128) AS m
             |  FROM med0, UNNEST(range(0,
             |    CAST(floor((length(mm)-1) / CAST(128 AS DOUBLE)) AS BIGINT) + 1)) AS t(f)),
             |${dhashCtes.replace("FROM media WHERE", "FROM fmedia WHERE")}
             |SELECT id // 1024 AS doc_id, id % 1024 AS frame_id,
             |  dhash AS ph, (id // 1024) // 64 AS shard
             |FROM dh ORDER BY 1, 2""".stripMargin)),

    // BLAST RADIUS for the round-17/18 artifact families q256 doesn't
    // cover — both frame indexes (id-sharded at div 64) and the near-dup
    // hits batches — under q256's tombstone predicate (doc_id ≡ 7 mod 20):
    // per family, the erasure units standing / touched and the rows
    // standing / to-remove. Like q256 this is the PLAN a deletion run
    // publishes before any rewrite: every relation is re-derived live from
    // fixtures + the standing train index, never read from a (possibly
    // already-repaired) artifact, so the report is re-run stable. The two
    // frame families report identical numbers on THIS corpus by
    // construction (trailer and noised media pad to the same 768 bytes —
    // same frame grid, same shards); the hits family's units are its
    // batches, where only the TRAIN side can hold a ≡7 (mod 20) id (test
    // ids are ≡ 0 mod 5).
    "q268_frame_blast_radius" -> Q(
      (s, dir) => {
        import graft.pipeline.ArtifactStore
        val D = graft.functions.MathFunctions.longDiv _
        val tombP = col("doc_id") % 20 === 7
        def report(name: String, units: org.apache.spark.sql.DataFrame,
                   unit: org.apache.spark.sql.Column, removedP: org.apache.spark.sql.Column) =
          units.agg(
            countDistinct(unit).as("n_units"),
            countDistinct(when(removedP, unit)).as("n_affected"),
            count(lit(1)).as("n_rows"),
            sum(when(removedP, 1L).otherwise(0L)).as("n_rows_removed"))
            .select(lit(name).as("family"), col("n_units"), col("n_affected"),
              col("n_rows"), col("n_rows_removed"))
        val checks = trailerFrames(s, dir, lit(true))
        val noised = Tables.documents(s, dir)
          .select(col("doc_id"), expr(NoisedTrailerSpark).as("m"))
        val phashes = Multimodal.frameHashes(s, noised, frameBytes = 128,
          idCol = "doc_id", mediaCol = "m")
        val d = Tables.documents(s, dir).select("doc_id", "text")
        lazy val idx = graft.operators.Dedup.trainNearDupIndex(
          d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
          shingleSize = 3, numHashes = 32, bands = 16)
        val trainBands = ArtifactStore.loadOrBuild(s,
          ArtifactStore.rootFor(dir, "neardup_train_bands_s3_h32_b16_v1"))(idx._1)
        val trainSigs = ArtifactStore.loadOrBuild(s,
          ArtifactStore.rootFor(dir, "neardup_train_sigs_s3_h32_b16_v1"))(idx._2)
        def batchDf(name: String, m: Int) =
          graft.operators.Dedup.crossCorpusNearDupFromIndex(
            trainBands, trainSigs, d.filter(col("doc_id") % 10 === m),
            "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
            threshold = TextQueries.JaccardThreshold)
            .withColumn("batch", lit(name))
        val hits = batchDf("b0", 0).unionByName(batchDf("b1", 5))
        report("frame_checksums", checks, D(col("doc_id"), lit(64L)), tombP)
          .unionByName(report("frame_phashes", phashes, D(col("doc_id"), lit(64L)), tombP))
          .unionByName(report("neardup_hits", hits, col("batch"),
            col("test_id") % 20 === 7 || col("train_id") % 20 === 7))
          .orderBy("family")
      },
      Some(s"""${TextQueries.crossNearDupCtes},
             |media AS (
             |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents),
             |${frameCtes(128)},
             |nmed AS (SELECT doc_id, $NoisedTrailerSql AS mm FROM documents),
             |nfr AS (
             |  SELECT doc_id, unnest(generate_series(0,
             |    CAST(floor((length(mm)-1) / CAST(128 AS DOUBLE)) AS BIGINT))) AS f
             |  FROM nmed),
             |hb AS (
             |  SELECT CASE WHEN test_id % 10 = 0 THEN 'b0' ELSE 'b1' END AS batch,
             |    CASE WHEN test_id % 20 = 7 OR train_id % 20 = 7 THEN 1 ELSE 0 END AS rm
             |  FROM pairs WHERE jac >= ${TextQueries.JaccardThreshold})
             |SELECT * FROM (
             |  SELECT 'frame_checksums' AS family,
             |    (SELECT CAST(count(DISTINCT id // 64) AS BIGINT) FROM fr) AS n_units,
             |    (SELECT CAST(count(DISTINCT id // 64) AS BIGINT) FROM fr WHERE id % 20 = 7) AS n_affected,
             |    (SELECT CAST(count(*) AS BIGINT) FROM fr) AS n_rows,
             |    (SELECT CAST(count(*) AS BIGINT) FROM fr WHERE id % 20 = 7) AS n_rows_removed
             |  UNION ALL
             |  SELECT 'frame_phashes',
             |    (SELECT CAST(count(DISTINCT doc_id // 64) AS BIGINT) FROM nfr),
             |    (SELECT CAST(count(DISTINCT doc_id // 64) AS BIGINT) FROM nfr WHERE doc_id % 20 = 7),
             |    (SELECT CAST(count(*) AS BIGINT) FROM nfr),
             |    (SELECT CAST(count(*) AS BIGINT) FROM nfr WHERE doc_id % 20 = 7)
             |  UNION ALL
             |  SELECT 'neardup_hits',
             |    (SELECT CAST(count(DISTINCT batch) AS BIGINT) FROM hb),
             |    (SELECT CAST(count(DISTINCT CASE WHEN rm = 1 THEN batch END) AS BIGINT) FROM hb),
             |    (SELECT CAST(count(*) AS BIGINT) FROM hb),
             |    (SELECT CAST(sum(rm) AS BIGINT) FROM hb))
             |ORDER BY family""".stripMargin)),

    // ERASURE COMPLETENESS as a standing hash-checked gate (ADVICE r17:
    // repairErased's completeness is a precondition whose violation is
    // invisible in its own manifest): after the q257 frame-index repair —
    // touched shards derived INSIDE repairErasedByKey, so the precondition
    // holds by construction — scan the ENTIRE repaired index and count
    // tombstoned rows that survived anywhere. The oracle pins that count
    // to literal zero (and the index mass to the survivor rebuild's), so
    // an under-named touched set can never again read clean: it would
    // hash-mismatch here. Full-scan by design — this is the audit, not
    // the repair; at 100 TB run it at audit cadence, not per deletion.
    "q269_erasure_completeness_audit" -> Q(
      (s, dir) => {
        import graft.pipeline.{ArtifactStore, IndexErasure}
        val D = graft.functions.MathFunctions.longDiv _
        val root = ArtifactStore.rootFor(dir, "frames_trailer_part_fb128_s64_v1")
        IndexErasure.ensurePartitioned(s, root, "shard") {
          trailerFrames(s, dir, lit(true))
            .withColumn("shard", D(col("doc_id"), lit(64L)))
        }
        val tomb = Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
          .select(col("doc_id"))
        IndexErasure.repairErasedByKey(s, root, "shard", "doc_id", tomb)(
          id => D(id, lit(64L)))
        val idx = IndexErasure.readPartitioned(s, root, "shard")
        tomb.agg(countDistinct(col("doc_id")).as("n_tombstoned_docs"))
          .crossJoin(idx.join(tomb, Seq("doc_id"), "left_semi")
            .agg(count(lit(1)).as("n_tombstoned_rows_surviving")))
          .crossJoin(idx.agg(count(lit(1)).as("n_index_rows")))
      },
      Some(s"""WITH media AS (
             |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents
             |  WHERE NOT (doc_id % 20 = 7)),
             |${frameCtes(128)}
             |SELECT
             |  (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 20 = 7) AS n_tombstoned_docs,
             |  CAST(0 AS BIGINT) AS n_tombstoned_rows_surviving,
             |  (SELECT CAST(count(*) AS BIGINT) FROM fr) AS n_index_rows""".stripMargin)),

    // THE DELETION RUN, end to end — q268 plans it, this EXECUTES it: one
    // tombstone set (doc_id ≡ 7 mod 20) driven through every deployed
    // artifact family in one query — both id-sharded frame indexes
    // (repairErasedByKey, touched derived from the tombstones) and the
    // batch-layout hits table (single-pass purgeBatches) — then the
    // post-repair AUDIT: per family, the planned removal mass (recomputed
    // from fixtures, the q268 plan column), the surviving index mass, and
    // the full-scan count of tombstone-referencing rows still present,
    // which the oracle pins to literal ZERO. Every artifact root is this
    // query's own (capstone-suffixed), repairs are idempotent, and the
    // report reads only plan-stable quantities — so the run is re-run
    // stable while still having REALLY executed the rewrites.
    "q271_gdpr_deletion_run" -> Q(
      (s, dir) => {
        import graft.pipeline.{ArtifactStore, IndexErasure}
        val D = graft.functions.MathFunctions.longDiv _
        val tomb = Tables.documents(s, dir).filter(col("doc_id") % 20 === 7)
          .select(col("doc_id"))
        def frameFam(name: String, root: String,
                     build: => org.apache.spark.sql.DataFrame) = {
          IndexErasure.ensurePartitioned(s, root, "shard")(
            build.withColumn("shard", D(col("doc_id"), lit(64L))))
          IndexErasure.repairErasedByKey(s, root, "shard", "doc_id", tomb)(
            id => D(id, lit(64L)))
          val idx = IndexErasure.readPartitioned(s, root, "shard")
          idx.agg(count(lit(1)).as("n_index_rows"))
            .crossJoin(idx.join(tomb, Seq("doc_id"), "left_semi")
              .agg(count(lit(1)).as("n_tombstoned_surviving")))
            .select(lit(name).as("family"), col("n_index_rows"),
              col("n_tombstoned_surviving"))
        }
        // The three families mutate DISJOINT artifact roots — independent
        // jobs, so their per-family action chains (touched-collects, audit
        // reads, listings, driver gaps) OVERLAP from a small thread pool
        // (guide §2.6: the scheduler back-fills one family's stragglers
        // with the next family's tasks). The mutation sections themselves
        // keep their existing serialization (each root's FsLock + the
        // module monitors), so interleaving cannot change any on-disk
        // outcome; each family computes exactly what the sequential code
        // computed, and the final union is assembled after all three
        // complete.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        implicit val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fFrames = Future(frameFam("frame_checksums",
            ArtifactStore.rootFor(dir, "frames_trailer_part_fb128_s64_cap_v1"),
            trailerFrames(s, dir, lit(true))))
          val fPhashes = Future(frameFam("frame_phashes",
            ArtifactStore.rootFor(dir, "framehash_noised_part_fb128_s64_cap_v1"),
            Multimodal.frameHashes(s,
              Tables.documents(s, dir)
                .select(col("doc_id"), expr(NoisedTrailerSpark).as("m")),
              frameBytes = 128, idCol = "doc_id", mediaCol = "m")))
          val fHits = Future {
            // hits family: build this capstone's own batches, purge them
            val d = Tables.documents(s, dir).select("doc_id", "text")
            lazy val idx2 = graft.operators.Dedup.trainNearDupIndex(
              d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text",
              shingleSize = 3, numHashes = 32, bands = 16)
            // the train-index loads live INSIDE the batch builders: when every
            // hits batch is already live, appendBatchIfAbsent skips the build
            // and the two artifact roots are never opened (the warm path paid
            // two schema-read jobs for relations nothing consumed — guide §2.4)
            def trainBands = ArtifactStore.loadOrBuild(s,
              ArtifactStore.rootFor(dir, "neardup_train_bands_s3_h32_b16_v1"))(idx2._1)
            def trainSigs = ArtifactStore.loadOrBuild(s,
              ArtifactStore.rootFor(dir, "neardup_train_sigs_s3_h32_b16_v1"))(idx2._2)
            val hitsRoot = ArtifactStore.rootFor(dir, "neardup_hits_cap_s3_h32_b16_v1")
            Seq((0L, 0), (1L, 5)).foreach { case (id, m) =>
              ArtifactStore.appendBatchIfAbsent(s, hitsRoot, id) {
                graft.operators.Dedup.crossCorpusNearDupFromIndex(
                  trainBands, trainSigs, d.filter(col("doc_id") % 10 === m),
                  "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
                  threshold = TextQueries.JaccardThreshold)
              }
            }
            IndexErasure.purgeBatches(s, hitsRoot,
              refCols = Seq("test_id", "train_id"), tombstones = tomb, idCol = "doc_id")
            val hitsIdx = ArtifactStore.readBatches(s, hitsRoot)
            hitsIdx.agg(count(lit(1)).as("n_index_rows"))
              .crossJoin(hitsIdx
                .join(tomb, hitsIdx("test_id") === tomb("doc_id") ||
                  hitsIdx("train_id") === tomb("doc_id"), "left_semi")
                .agg(count(lit(1)).as("n_tombstoned_surviving")))
              .select(lit("neardup_hits").as("family"), col("n_index_rows"),
                col("n_tombstoned_surviving"))
          }
          val frames = Await.result(fFrames, Duration.Inf)
          val phashes = Await.result(fPhashes, Duration.Inf)
          val hits = Await.result(fHits, Duration.Inf)
          frames.unionByName(phashes).unionByName(hits).orderBy("family")
        } finally pool.shutdown()
      },
      Some(s"""${TextQueries.crossNearDupCtes},
             |media AS (
             |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents
             |  WHERE NOT (doc_id % 20 = 7)),
             |${frameCtes(128)},
             |nmed AS (
             |  SELECT doc_id, $NoisedTrailerSql AS mm FROM documents
             |  WHERE NOT (doc_id % 20 = 7)),
             |nfr AS (
             |  SELECT doc_id, unnest(generate_series(0,
             |    CAST(floor((length(mm)-1) / CAST(128 AS DOUBLE)) AS BIGINT))) AS f
             |  FROM nmed)
             |SELECT * FROM (
             |  SELECT 'frame_checksums' AS family,
             |    (SELECT CAST(count(*) AS BIGINT) FROM fr) AS n_index_rows,
             |    CAST(0 AS BIGINT) AS n_tombstoned_surviving
             |  UNION ALL
             |  SELECT 'frame_phashes',
             |    (SELECT CAST(count(*) AS BIGINT) FROM nfr), CAST(0 AS BIGINT)
             |  UNION ALL
             |  SELECT 'neardup_hits',
             |    (SELECT CAST(count(*) AS BIGINT) FROM pairs
             |     WHERE jac >= ${TextQueries.JaccardThreshold}
             |       AND test_id % 20 <> 7 AND train_id % 20 <> 7),
             |    CAST(0 AS BIGINT))
             |ORDER BY family""".stripMargin)),
  )

  /** One full-rebuild oracle for q167 (batch) and q181 (incrementally
    * maintained index) — append-maintenance ≡ rebuild is the check.
    */
  private lazy val frameAlignOracle: String =
    s"""WITH media AS (
       |  SELECT doc_id AS id, $TrailerMediaSql AS m FROM documents),
       |${frameCtes(128)},
       |keep AS (
       |  SELECT checksum FROM fr GROUP BY checksum
       |  HAVING count(DISTINCT id) <= 60),
       |ff AS (SELECT fr.* FROM fr JOIN keep USING (checksum)),
       |p AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.frame_id AS fa,
       |    b.frame_id AS fb, a.frame_id - b.frame_id AS off
       |  FROM ff a JOIN ff b ON a.checksum = b.checksum AND a.id < b.id),
       |isl AS (
       |  SELECT id_a, id_b, off, fa, fb,
       |    fa - row_number() OVER (PARTITION BY id_a, id_b, off ORDER BY fa) AS g
       |  FROM p),
       |runs AS (
       |  SELECT id_a, id_b, off, g, min(fa) AS a_start, min(fb) AS b_start,
       |    CAST(count(*) AS BIGINT) AS n_frames
       |  FROM isl GROUP BY 1, 2, 3, 4)
       |SELECT id_a, id_b, a_start, b_start, n_frames FROM runs
       |WHERE n_frames >= 2 ORDER BY id_a, id_b, a_start, b_start""".stripMargin

  /** q161's oracle: gates + perceptual dedup over the rendition corpus. */
  private lazy val curateOracle: Option[String] =
    Some(s"""WITH ${renditionCteAll},
           |${frameCtes(128)},
           |cap AS (SELECT id, len(string_split(caption, ' ')) AS toks FROM media),
           |gated AS (
           |  SELECT r.id FROM media r
           |  JOIN ma ON ma.id = r.id JOIN cap ON cap.id = r.id
           |  WHERE cap.toks >= 20 AND ma.n_frames >= 2
           |    AND ${frs("1 - CAST(ma.distinct_frames AS DOUBLE) / CAST(ma.n_frames AS DOUBLE)", 6)} <= 0.5),
           |gmedia AS (SELECT r.id, r.m FROM media r JOIN gated g ON g.id = r.id),
           |${dhashCtes.replace("FROM media WHERE", "FROM gmedia WHERE")},
           |${bandPairCtes(maxHamming = 3)}
           |SELECT r.id, r.source, r.n_chars FROM media r JOIN gated g ON g.id = r.id
           |WHERE r.id NOT IN (SELECT id_b FROM pairs)
           |ORDER BY r.id""".stripMargin)
}
