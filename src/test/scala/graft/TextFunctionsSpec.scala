package graft

import graft.functions.TextFunctions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextFunctionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "der schnelle braune fuchs und der faule hund"),
    (3L, "a b c"),
    (4L, "x"),
  ).toDF("id", "text")

  test("tokenCount splits on single space") {
    val r = df.select($"id", tokenCount($"text").as("n")).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r(1) === 9); assert(r(3) === 3); assert(r(4) === 1)
  }

  test("tokenHits counts exact tokens") {
    assert(df.filter($"id" === 1).select(tokenHits($"text", "the")).head.getInt(0) === 2)
    assert(df.filter($"id" === 1).select(tokenHits($"text", "cat")).head.getInt(0) === 0)
  }

  test("langId picks marker-majority language with deterministic ties") {
    val r = df.select($"id", langId($"text").as("l")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(r(1) === "en") // 'the' x2
    assert(r(2) === "de") // 'der' x2, 'und'
    assert(r(3) === "und") // no markers
    assert(r(4) === "und") // no markers at all
  }

  test("shingles: count, distinctness, content") {
    val r = df.filter($"id" === 3).select(shingles($"text", 2)).head.getSeq[String](0)
    assert(r === Seq("a b", "b c"))
    val empty = df.filter($"id" === 4).select(shingles($"text", 3)).head.getSeq[String](0)
    assert(empty.isEmpty)
  }

  test("jaccard: identical=1, disjoint=0") {
    val d = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d"))).toDF("x", "y", "z")
    assert(d.select(jaccard($"x", $"y")).head.getDouble(0) === 1.0)
    assert(d.select(jaccard($"x", $"z")).head.getDouble(0) === 0.0)
  }

  test("rollingHash and fingerprint are deterministic and discriminative") {
    val twice = df.select(rollingHash($"text").as("h")).collect().map(_.getLong(0))
    val again = df.select(rollingHash($"text").as("h")).collect().map(_.getLong(0))
    assert(twice.toSeq === again.toSeq)
    assert(twice.distinct.length === twice.length) // 4 distinct texts -> 4 hashes
    twice.foreach(h => assert(h >= 0 && h < 1000000007L))
  }

  test("simhashPoly: equal texts equal hashes, hamming 0; different texts differ") {
    val d = Seq(("a b c d e f", "a b c d e f"), ("a b c d e f", "q w e r t y")).toDF("x", "y")
    val r = d.select(hamming64(simhashPoly($"x"), simhashPoly($"y")).as("h")).collect().map(_.getInt(0))
    assert(r(0) === 0)
    assert(r(1) > 0)
  }

  // the fused kernels claim bit-identity with the HOF column trees they
  // replaced — assert it on fixture docs plus adversarial edges (empty
  // string, consecutive/leading/trailing spaces, multi-byte UTF-8)
  private lazy val kernelProbe = {
    val edges = Seq((9001L, ""), (9002L, "  a  b "), (9003L, "héllo wörld héllo"),
      (9004L, "一 二 三 一"), (9005L, "x")).toDF("doc_id", "text")
    Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(100).union(edges)
  }

  test("fused shingleHashes is bit-identical to the HOF formulation") {
    val th  = transform(tokens($"text"), t => xxhash64(t))
    val cnt = size(th) - 2
    val hof = when(cnt >= 1,
        sort_array(array_distinct(transform(sequence(lit(1), cnt),
          i => xxhash64(element_at(th, i), element_at(th, i + 1), element_at(th, i + 2))))))
      .otherwise(array().cast("array<long>"))
    val bad = kernelProbe
      .filter(not(shingleHashesFused($"text", 3) <=> hof)).count()
    assert(bad === 0)
  }

  // ---- PolyHash family (the SQL-expressible dedup hashes) ----
  // Reference implementations in plain Scala over CODE POINTS — the exact
  // semantics the DuckDB oracles express with ascii(substr(w,i,1)). The
  // kernels walk raw UTF-8 bytes, so the multi-byte rows assert the decode.
  private val P = 1000000007L
  private val R = 1000003L
  private def refTokenHash(w: String): Long =
    w.codePoints().toArray.foldLeft(0L)((acc, cp) => (acc * 31L + cp) % P)
  private def refShingles(text: String, n: Int): Seq[Long] = {
    val th = text.split(" ", -1).map(refTokenHash)
    (0 to th.length - n).map { i =>
      th.slice(i, i + n).foldLeft(0L)((acc, h) => (acc * R + h) % P)
    }.distinct.sorted
  }

  test("PolyShingleHashes matches the code-point reference (incl. non-ASCII)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.PolyShingleHashes
    val texts = Seq("", "  a  b ", "héllo wörld héllo étoile", "一 二 三 一 二",
      "🦀 crab 🦀 crab x", "the quick brown fox jumps over the lazy dog", "x")
    texts.foreach { t =>
      val got = PolyShingleHashes.compute(UTF8String.fromString(t), 3).toLongArray().toSeq
      assert(got === refShingles(t, 3), s"text=<$t>")
      got.foreach(h => assert(h >= 0 && h < P))
    }
  }

  test("PolyMinHashSignature matches the affine reference and the DataFrame path") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.{PolyHash, PolyShingleHashes, PolyMinHashSignature}
    val t  = "a b c d e f g h i j"
    val hs = refShingles(t, 3)
    val expected = (0 until 8).map(j => hs.map(h => (PolyHash.a(j) * h + PolyHash.b(j)) % P).min)
    val got = PolyMinHashSignature.compute(
      PolyShingleHashes.compute(UTF8String.fromString(t), 3), 8).toLongArray().toSeq
    assert(got === expected)
    val viaDf = Seq(Tuple1(t)).toDF("text")
      .select(minhashSignaturePoly(shingleHashesPoly($"text", 3), 8).as("sig"))
      .head.getSeq[Long](0)
    assert(viaDf === expected)
  }

  test("simhashPoly: 60-bit range, equal texts at hamming 0, parity-vote reference") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.{PolyHash, SimHashPoly}
    val t = "the cat sat on the mat"
    val votes = Array.fill(60)(0)
    t.split(" ", -1).map(refTokenHash).foreach { h =>
      (0 until 60).foreach { j =>
        if (((PolyHash.a(j) * h + PolyHash.b(j)) % P & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
      }
    }
    val expected = (0 until 60).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
    assert(SimHashPoly.compute(UTF8String.fromString(t)) === expected)
    val d = Seq(("a b c", "a b c")).toDF("x", "y")
    val r = d.select(hamming64(simhashPoly($"x"), simhashPoly($"y"))).head.getInt(0)
    assert(r === 0)
    val v = d.select(simhashPoly($"x")).head.getLong(0)
    assert(v >= 0 && v < (1L << 60))
  }

  test("poly kernels are safe and deterministic on malformed UTF-8 bytes") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.expressions.{PolyShingleHashes, SimHashPoly}
    // lone lead byte, truncated 3-byte seq, stray continuation, invalid 0xFF
    val bad = Seq(
      Array(0xF0, 0x20, 0x61).map(_.toByte),
      Array(0x61, 0xE2, 0x82).map(_.toByte),
      Array(0x80, 0x20, 0x80, 0x80).map(_.toByte),
      Array(0xFF, 0xFE, 0x61).map(_.toByte))
    bad.foreach { bytes =>
      val s  = UTF8String.fromBytes(bytes)
      val h1 = PolyShingleHashes.compute(s, 1).toLongArray().toSeq
      val h2 = PolyShingleHashes.compute(s, 1).toLongArray().toSeq
      assert(h1 === h2) // no out-of-bounds reads -> stable values
      h1.foreach(h => assert(h >= 0 && h < P))
      assert(SimHashPoly.compute(s) === SimHashPoly.compute(s))
    }
  }

  test("poly minhash of an empty hash set is null, not a sentinel signature") {
    val df = Seq(Tuple1("x")).toDF("t")
    // runtime-empty array with a provably non-null element type: a 2-token
    // text has no trigram shingles
    val empty = shingleHashesPoly(lit("a b"), 3)
    val r = df.select(minhashSignaturePoly(empty, 4)).head
    assert(r.isNullAt(0)) // sentinel minima would make all empty docs collide
    // non-empty still works through the same codegen path
    val ok = df.select(minhashSignaturePoly(array(lit(5L), lit(9L)), 4)).head.getSeq[Long](0)
    assert(ok.length === 4)
  }

  test("minhash kernels reject nullable array elements at analysis") {
    val df = Seq(Tuple1("a b c")).toDF("t")
    // an array whose element type is nullable -> must be rejected at
    // analysis, not read as undefined memory at run
    val nullableHashes = array(lit(42L), lit(null).cast("long"))
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(minhashSignaturePoly(nullableHashes, 4)).head
    }
  }

  test("subwordCount: at least one per token, more for long words") {
    val d = Seq(("ab cd", "internationalization hi")).toDF("x", "y")
    assert(d.select(subwordCount($"x")).head.getInt(0) === 2)
    assert(d.select(subwordCount($"y")).head.getInt(0) === 6) // ceil(20/4)=5 + 1
  }

  test("nfc: merges canonical equivalents, identity on ASCII and NFC input") {
    val rows = Seq(
      ("cafe\u0301", "caf\u00e9"),        // combining acute -> precomposed
      ("A\u030Angstrom", "\u00c5ngstrom"), // combining ring -> precomposed U+00C5
      ("plain ascii!", "plain ascii!"),    // fast path: unchanged
      ("caf\u00e9", "caf\u00e9")           // already NFC: unchanged
    ).toDF("raw", "want")
    val got = rows.select(nfc($"raw").as("got"), $"want").collect()
    got.foreach(r => assert(r.getString(0) === r.getString(1)))
    // byte-distinct before, byte-equal after — the dedup-key property
    val pair = Seq(("cafe\u0301", "caf\u00e9")).toDF("a", "b")
      .select(md5($"a").as("ha"), md5($"b").as("hb"),
        md5(nfc($"a")).as("na"), md5(nfc($"b")).as("nb")).head
    assert(pair.getString(0) !== pair.getString(1))
    assert(pair.getString(2) === pair.getString(3))
    // null passes through
    assert(rows.select(nfc(lit(null).cast("string"))).head.isNullAt(0))
  }
}
