package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar surface (SURVEY.md §2.8 F2/F4/X-F and the
  * training-data-pipeline extensions: language-ID, quality scoring, token
  * counting, document fingerprinting).
  *
  * The reference's only text ops are tiktoken token *counting* used as a length
  * guard (reference `vectrekker/main.py:170,175-178`) and a regex path filter
  * (`main.py:135,140-141`). We generalize to a deterministic, SQL-expressible
  * token model (whitespace split) so every derived statistic stays
  * DuckDB-oracle-checkable, and add the standard LLM-corpus heuristics.
  *
  * Everything here is built from codegen'd built-ins (split / size / filter /
  * aggregate / transform) — no UDFs, so the hot path stays in whole-stage
  * codegen at scale.
  */
object TextFunctions {

  /** Whitespace tokenizer — the deterministic stand-in for tiktoken
    * (reference `main.py:170`): only token *counts* are consumed by the
    * pipeline guard, so the token model just has to be deterministic and
    * cheap. Single-space split matches the fixture corpus exactly.
    */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count approximation: whitespace tokens plus an extra
    * token per 4 chars of long words (cl100k-style subword splitting rate).
    * Deterministic and SQL-expressible.
    */
  def subwordCount(text: Column): Column =
    aggregate(tokens(text), lit(0), (acc, w) => acc + greatest(lit(1), ceil(length(w) / 4.0).cast("int")))

  /** Token count under the byte-level BPE tokenizer (GPT-2 algorithm,
    * pluggable merge table — [[graft.functions.bpe.BpeTokenizer]]): the
    * faithful analog of the reference's tiktoken `cl100k_base` length guard.
    * Oracle-checked via a recursive-CTE DuckDB merge loop sharing the Scala
    * merge table (`TextQueries.bpeOracle`); the whitespace [[tokenCount]]
    * stays the simpler oracle path.
    */
  def bpeTokenCount(text: Column): Column = {
    import graft.functions.expressions.BpeTokenCount
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(BpeTokenCount(B.expression(text)))
  }

  /** Occurrences of an exact token. */
  def tokenHits(text: Column, word: String): Column =
    tokenHitsIn(tokens(text), word)

  /** Same over a pre-split token array — stage the array once per row when
    * probing many markers (each call over raw text re-splits it). */
  def tokenHitsIn(toks: Column, word: String): Column =
    size(filter(toks, t => t === lit(word)))

  /** Language marker sets — tiny stopword lists per language. On real corpora
    * these are the classic n-gram/stopword language-ID heuristic; they are
    * deterministic functions of the text, so oracle-checkable.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "de" -> Seq("der", "die", "und", "ist"),
    "es" -> Seq("el", "la", "que", "es"),
    "fr" -> Seq("le", "les", "et", "est"),
    "zh" -> Seq("de", "shi", "zai", "he"),
  )

  def langScore(text: Column, markers: Seq[String]): Column =
    markers.map(m => tokenHits(text, m)).reduce(_ + _)

  def langScoreIn(toks: Column, markers: Seq[String]): Column =
    markers.map(m => tokenHitsIn(toks, m)).reduce(_ + _)

  /** Deterministic language guess: argmax over marker hits with fixed
    * tie-break order (en, de, es, fr, zh) and 'und' (undetermined) when no
    * marker fires at all.
    */
  def langId(text: Column): Column = langIdIn(tokens(text))

  /** [[langId]] over a pre-split token array. */
  def langIdIn(toks: Column): Column = {
    val scores = langMarkers.map { case (lang, ms) => lang -> langScoreIn(toks, ms) }
    val best   = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    // NOTE: foldRight means earlier entries win ties (en first).
  }

  /** Quality score in [0,1]: length saturation + stopword-ratio signal —
    * the shape of a classic rule-based corpus quality filter, deterministic
    * and oracle-checkable. round() at the call site.
    */
  def qualityScore(text: Column): Column = {
    val n       = tokenCount(text).cast("double")
    val stops   = langScore(text, Seq("the", "and", "of", "is", "a")).cast("double")
    val lenSat  = least(lit(1.0), n / 100.0)
    val stopSig = least(lit(1.0), (stops / greatest(n, lit(1.0))) * 10.0)
    least(lit(1.0), lit(0.1) + lit(0.6) * lenSat + lit(0.3) * stopSig)
  }

  /** Content fingerprint: first 16 hex chars of md5 — identical in DuckDB. */
  def fingerprintMd5(text: Column): Column = substring(md5(text), 1, 16)

  /** Rolling polynomial hash over tokens, word code = cheap arithmetic on
    * first/last char + length. Stays below 2^63 (acc < p, p*31 + code << 2^63)
    * so no overflow-semantics divergence across engines.
    */
  val RollP = 1000000007L
  def wordCode(w: Column): Column =
    ascii(substring(w, 1, 1)) * 10000 + length(w) * 100 + ascii(substring(reverse(w), 1, 1))
  def rollingHash(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, w) => pmod(acc * 31L + wordCode(w).cast("long"), lit(RollP)))

  /** Distinct n-token shingles ("n-grams of words") — the unit set for
    * Jaccard/MinHash dedup. Codegen'd: sequence + transform + slice.
    */
  def shingles(text: Column, n: Int): Column = {
    val toks  = tokens(text)
    val count = size(toks) - (n - 1)
    // guard: sequence(1, 0) would step backwards ([1,0]) and slice(_, 0, _)
    // throws under ANSI — short texts yield an empty shingle set instead
    when(count >= 1,
      array_distinct(
        transform(sequence(lit(1), count), i => concat_ws(" ", slice(toks, i, lit(n))))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact Jaccard similarity of two *sets* (arrays with distinct elements,
    * e.g. [[shingles]] output). |A∪B| = |A|+|B|-|A∩B| — avoids materializing
    * the union array per pair (half the per-pair cost on the hot dedup path).
    */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni   = (size(a) + size(b)).cast("double") - inter
    when(uni > 0, inter / uni).otherwise(lit(0.0))
  }

  /** Sorted distinct shingle hashes straight from the text, fused into one
    * codegen call ([[graft.functions.expressions.ShingleHashes]]). Values are
    * bit-identical to `sort_array(array_distinct(transform(sequence(…),
    * i => xxhash64(th(i), …))))` over `th = transform(tokens, xxhash64)` —
    * but ~10× cheaper (the HOF tree was the dedup pipeline's hotspot).
    */
  def shingleHashesFused(text: Column, n: Int): Column = {
    import graft.functions.expressions.ShingleHashes
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(ShingleHashes(B.expression(text), n))
  }

  /** Unicode NFC normalization (UAX #15) as a codegen'd scalar
    * ([[graft.functions.expressions.NfcNormalize]]) — the canonicalization
    * byte-exact dedup needs before hashing: precomposed and
    * combining-sequence spellings of the same text are byte-distinct until
    * normalized. Pure-ASCII rows return the input object unchanged (byte
    * scan, no allocation). DuckDB's `nfc_normalize` mirrors it.
    */
  def nfc(text: Column): Column = {
    import graft.functions.expressions.NfcNormalize
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(NfcNormalize(B.expression(text)))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Duplicate-n-gram fraction: 1 − distinct/total n-grams — the Gopher-rule
    * repetition signal (Rae et al. 2021 filter heavily-repetitive documents
    * by exactly this family of ratios). Distinct counting rides the fused
    * 64-bit shingle kernel (collision odds ~1e-11, far below the rounded
    * output granularity); map-only, no shuffle.
    */
  def repetitionScore(text: Column, n: Int): Column = {
    val total    = greatest(tokenCount(text) - (n - 1), lit(0)).cast("double")
    val distinct = size(shingleHashesFused(text, n)).cast("double")
    when(total > 0, lit(1.0) - distinct / total).otherwise(lit(0.0))
  }

  // ---- SQL-expressible (oracle-checkable) dedup hash family ----
  // Every hash is modular arithmetic below 2⁶³ (PolyHash), so the DuckDB
  // oracle computes bit-identical values — this is what makes q22b/q22c/q45
  // hash-checkable rather than rows-only. Fused kernels: one codegen call
  // per row.

  /** Sorted distinct n-gram shingle hashes, polynomial family
    * ([[graft.functions.expressions.PolyShingleHashes]]).
    */
  def shingleHashesPoly(text: Column, n: Int): Column = {
    import graft.functions.expressions.PolyShingleHashes
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(PolyShingleHashes(B.expression(text), n))
  }

  /** MinHash signature via the affine family (a_j·h + b_j) mod P
    * ([[graft.functions.expressions.PolyMinHashSignature]]).
    */
  def minhashSignaturePoly(hashes: Column, numHashes: Int): Column = {
    import graft.functions.expressions.PolyMinHashSignature
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(PolyMinHashSignature(B.expression(hashes), numHashes))
  }

  /** 60-bit SimHash, polynomial family
    * ([[graft.functions.expressions.SimHashPoly]]).
    */
  def simhashPoly(text: Column): Column = {
    import graft.functions.expressions.SimHashPoly
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(SimHashPoly(B.expression(text)))
  }
}
