package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.Upsert
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Generative properties (SURVEY §5.3): ScalaCheck generators feed batches
  * evaluated in single Spark jobs — one job per property, not per case.
  */
class PropertySpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    Iterator.iterate((Seed(seed), Option.empty[A])) { case (s, _) =>
      val (v, s2) = (g.apply(Gen.Parameters.default, s), s.next)
      (s2, v)
    }.drop(1).take(n * 2).flatMap(_._2).take(n).toSeq

  private val vecGen = Gen.listOfN(16, Gen.chooseNum(-10.0, 10.0))

  test("property: byte-level BPE round-trips losslessly and counts consistently") {
    import graft.functions.bpe.BpeTokenizer
    val bpe = BpeTokenizer.default
    // arbitrary unicode strings (ascii, accents, CJK, emoji, whitespace runs)
    val strGen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar.map(_.toString), 3 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "ß", "中", "文", "🦀", "\n", "\t", ",", ".", "'")
    )).map(_.mkString)
    val texts = sample(strGen, 300, 17L) :+ "" :+ "it's the user's choice" :+ "  leading and  double  spaces "
    texts.foreach { t =>
      val ids = bpe.encode(t)
      assert(bpe.decode(ids) === t, s"round-trip failed for <$t>")                 // lossless
      assert(ids.length === bpe.countTokens(t))                                    // count == encode length
      assert(ids.length <= t.getBytes("UTF-8").length)                             // merges only shrink
      assert(bpe.encode(t) === ids)                                                // deterministic
      assert(ids.forall(id => id >= 0 && id < bpe.vocabSize))
    }
    // merges actually fire on English (vocab learned 'the', ' the', suffixes)
    assert(bpe.countTokens("the data and the table") < "the data and the table".getBytes("UTF-8").length)
    // the Column path agrees with the engine
    val df = texts.filter(_.nonEmpty).toDF("text")
    val viaCol = df.select(bpeTokenCount($"text")).collect().map(_.getInt(0)).toSeq
    assert(viaCol === texts.filter(_.nonEmpty).map(bpe.countTokens))
    // merges-file round-trip: serialize the learned table, reload, same output
    val lines = bpe.merges.map { case (a, b) => s"$a $b" }
    val reloaded = BpeTokenizer.fromMerges(Iterator("#version: miniature") ++ lines.iterator)
    assert(reloaded.encode("the quick brown fox") === bpe.encode("the quick brown fox"))
  }

  test("property: leftmost one-at-a-time merging equals merge-all BPE (q18b oracle invariant)") {
    import graft.functions.bpe.BpeTokenizer
    val bpe = BpeTokenizer.default
    val ranks = bpe.merges.zipWithIndex.toMap
    // The DuckDB oracle (TextQueries.bpeOracle) merges ONE pair per
    // recursion step — the leftmost occurrence of the lowest-rank pair —
    // where the tokenizer merges EVERY occurrence before rescanning. For a
    // trained table (a merge of rank r only creates pairs involving its
    // product, whose ranks are > r) both converge to the same fixpoint;
    // this is the invariant q18b's oracle rests on.
    def oneAtATime(pre: String): Int = {
      var w = pre.getBytes("UTF-8").toVector
        .map(b => BpeTokenizer.byteToChar(b & 0xFF).toString)
      var go = w.length > 1
      while (go) {
        var bestRank = Int.MaxValue; var bestIdx = -1
        for (i <- 0 until w.length - 1) {
          val r = ranks.getOrElse((w(i), w(i + 1)), Int.MaxValue)
          if (r < bestRank) { bestRank = r; bestIdx = i }
        }
        if (bestIdx < 0) go = false
        else {
          w = (w.take(bestIdx) :+ (w(bestIdx) + w(bestIdx + 1))) ++ w.drop(bestIdx + 2)
          go = w.length > 1
        }
      }
      w.length
    }
    // seed-alphabet words (merges fire heavily) + adversarial repeats where
    // merge-all and one-at-a-time could diverge if the invariant were wrong
    val strGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf("the", "data", "and", "table", "tokenized", "everything"),
      3 -> Gen.oneOf("a", "t", "h", "e", "s"),
      1 -> Gen.oneOf("aaaa", "thethethe", "ttttt", "sss")
    )).map(_.mkString(" "))
    val texts = sample(strGen, 300, 23L) ++
      Seq("the the the", "aaaaaaa", "thethethe ttt", "it's the user's 100 words, sure")
    texts.foreach { t =>
      val viaOne = BpeTokenizer.preTokenize(t).map(oneAtATime).sum
      assert(viaOne === bpe.countTokens(t), s"merge-order divergence for <$t>")
    }
  }

  test("BPE: colliding merge concatenations keep the first rank; decode is total over ids") {
    import graft.functions.bpe.BpeTokenizer
    // ranks: 0 (b,c)→"bc", 1 (a,bc)→"abc", 2 (a,b)→"ab", 3 (ab,c)→"abc":
    // ranks 1 and 3 produce the SAME symbol string
    val bpe = new BpeTokenizer(Vector(("b", "c"), ("a", "bc"), ("a", "b"), ("ab", "c")))
    assert(bpe.encode("abc") === Vector(256 + 1)) // first-rank id wins the vocab slot
    assert(bpe.decode(Seq(256 + 1)) === "abc")
    assert(bpe.decode(Seq(256 + 3)) === "abc")    // shadowed id still decodes, no throw
    assert(bpe.decode(bpe.encode("abcabc ab bc")) === "abcabc ab bc")
  }

  test("property: cosine ∈ [-1,1], cos(v,v)=1, symmetry; euclidean symmetry + identity") {
    val pairs = sample(Gen.zip(vecGen, vecGen), 200, 11L)
    val df = pairs.map { case (a, b) => (a.toArray, b.toArray) }.toDF("a", "b")
    val rows = df.select(
      cosine($"a", $"b").as("cab"), cosine($"b", $"a").as("cba"),
      cosine($"a", $"a").as("self"),
      euclidean($"a", $"b").as("dab"), euclidean($"b", $"a").as("dba"),
      euclidean($"a", $"a").as("dself")).collect()
    rows.foreach { r =>
      val (cab, cba) = (r.getDouble(0), r.getDouble(1))
      assert(cab >= -1.0 - 1e-9 && cab <= 1.0 + 1e-9)
      assert(math.abs(cab - cba) < 1e-12)
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-9)
      assert(math.abs(r.getDouble(3) - r.getDouble(4)) < 1e-12)
      assert(r.getDouble(5) === 0.0)
    }
  }

  test("property: jaccard symmetry, bounds, identity") {
    val setGen = Gen.listOf(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(4))).map(_.distinct)
    val pairs  = sample(Gen.zip(setGen, setGen), 200, 17L)
    val df = pairs.map { case (a, b) => (a, b) }.toDF("a", "b")
    val rows = df.select(
      jaccard($"a", $"b").as("jab"), jaccard($"b", $"a").as("jba"),
      jaccard($"a", $"a").as("self"), size($"a").as("na")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      if (r.getInt(3) > 0) assert(r.getDouble(2) === 1.0)
    }
  }

  test("property: upsert idempotency and key uniqueness on generated tables") {
    val rowGen = Gen.zip(Gen.chooseNum(0L, 30L), Gen.chooseNum(-100.0, 100.0))
    val baseRows = sample(rowGen, 80, 23L).zipWithIndex
      .map { case ((k, v), i) => (s"k$k", v, 1L) }.distinctBy(_._1)
    val updRows = sample(rowGen, 40, 29L)
      .map { case (k, v) => (s"k$k", v, 2L) }.distinctBy(_._1)
    val base = baseRows.toDF("id", "v", "version")
    val upd  = updRows.toDF("id", "v", "version")
    val once  = Upsert.merge(base, upd, Seq("id"), "version")
    val twice = Upsert.merge(once, upd, Seq("id"), "version")
    assert(once.orderBy("id").collect().toSeq === twice.orderBy("id").collect().toSeq)
    assert(once.groupBy("id").count().filter($"count" > 1).count() === 0)
    // every update key present with version 2
    val got = once.filter($"version" === 2L).select("id").collect().map(_.getString(0)).toSet
    assert(got === updRows.map(_._1).toSet)
  }

  test("property: rollingHash stays in [0, p) and is stable across evaluation") {
    val textGen = Gen.listOf(Gen.alphaLowerStr.suchThat(_.nonEmpty).map(_.take(6))).map(_.mkString(" "))
    val texts   = sample(textGen, 150, 31L).filter(_.nonEmpty)
    val df = texts.toDF("text")
    val a = df.select(rollingHash($"text")).collect().map(_.getLong(0))
    val b = df.select(rollingHash($"text")).collect().map(_.getLong(0))
    assert(a.toSeq === b.toSeq)
    a.foreach(h => assert(h >= 0 && h < RollP))
  }

  test("property: snapshotDiff -> applyDiff round-trips to next on generated snapshots") {
    // generated keyed tables with doubles (in-engine string round-trip),
    // nullable strings, and overlapping-but-mutated key sets: the replayed
    // changelog must reproduce `next` exactly, whatever the mutation mix
    val rowGen = Gen.zip(Gen.chooseNum(0L, 40L), Gen.chooseNum(-1e6, 1e6),
      Gen.option(Gen.identifier.map(_.take(6))))
    val prevRows = sample(rowGen, 120, 41L).distinctBy(_._1)
    val nextRows = sample(rowGen, 120, 43L).distinctBy(_._1)
    val prev = prevRows.toDF("k", "v", "s")
    val next = nextRows.toDF("k", "v", "s")
    val d = graft.operators.Diff.snapshotDiff(prev, next, Seq("k"))
    val applied = graft.operators.Diff.applyDiff(prev, d, Seq("k"))
    assert(applied.collect().map(_.toSeq).toSet === next.collect().map(_.toSeq).toSet)
  }

  test("property: diff round-trip replays NULL-keyed rows as a multiset") {
    // NULL keys never equi-join, so they diff as insert+delete pairs and
    // applyDiff must replay them by full-row serialization — including
    // COLLIDING identical NULL-key rows (delete k of n) and NULL-valued
    // columns inside NULL-key rows (fragment-dropping serialization)
    val rowGen = Gen.zip(Gen.option(Gen.chooseNum(0L, 20L)),
      Gen.chooseNum(-100.0, 100.0), Gen.option(Gen.oneOf("x", "y", "z")))
    def mk(seed: Long) = {
      val rows = sample(rowGen, 80, seed)
      val (nulls, keyed) = rows.partition(_._1.isEmpty)
      keyed.distinctBy(_._1) ++ nulls
    }
    // two identical NULL-key rows in prev, one in next: exactly one survives
    val dup = (Option.empty[Long], 1.5, Option("dup"))
    val nullNull = (Option.empty[Long], 2.5, Option.empty[String])
    val prevRows = mk(53L) ++ Seq(dup, dup, nullNull)
    val nextRows = mk(59L) :+ dup
    val prev = prevRows.toDF("k", "v", "s")
    val next = nextRows.toDF("k", "v", "s")
    val d = graft.operators.Diff.snapshotDiff(prev, next, Seq("k"))
    val applied = graft.operators.Diff.applyDiff(prev, d, Seq("k"))
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(applied) === multiset(next))
    assert(prevRows.exists(_._1.isEmpty) && nextRows.exists(_._1.isEmpty))
  }

  test("property: exactSubstrSpans equals a brute-force reference on random small docs") {
    // {a,b}-alphabet docs make 5-char windows collide constantly — the
    // operator's dup-window + island-merge pipeline must reproduce a
    // position-by-position Scala reference exactly
    val L = 5
    val docGen = Gen.listOfN(25, Gen.oneOf('a', 'b')).map(_.mkString)
    val texts = sample(docGen, 10, 47L) :+ "ab" // one doc shorter than a window
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val winSets = texts.zipWithIndex.map { case (t, i) =>
      i -> (0 to t.length - L).map(p => t.substring(p, p + L)).toVector
    }.toMap
    val expected = texts.indices.flatMap { i =>
      val pos = winSets(i).zipWithIndex.collect { case (w, p)
        if winSets.exists { case (j, ws) => j != i && ws.contains(w) } => p + 1 }
      val groups = pos.foldLeft(List.empty[List[Int]]) {
        case (Nil, p)                      => List(List(p))
        case (h :: t, p) if p == h.head + 1 => (p :: h) :: t
        case (acc, p)                      => List(p) :: acc
      }.map(_.reverse).reverse
      groups.map(g => (i.toLong, g.head.toLong, (g.last - g.head + L).toLong))
    }.toSet
    val got = graft.operators.Dedup.exactSubstrSpans(docs, "doc_id", "text", L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(expected.nonEmpty) // the generator really produced collisions
  }

  test("property: fpSubstrSpans ≡ exactSubstrSpans on random collision-heavy docs") {
    // the fingerprint shuffle key must reproduce the string-keyed spans
    // exactly — same {a,b}-alphabet generator as the exactSubstrSpans pin,
    // where 5-char windows collide constantly
    val L = 5
    val docGen = Gen.listOfN(25, Gen.oneOf('a', 'b')).map(_.mkString)
    val texts = sample(docGen, 12, 53L) :+ "ab" :+ "" // short + empty edges
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    def spans(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = spans(graft.operators.Dedup.exactSubstrSpans(docs, "doc_id", "text", L))
    val fp = spans(graft.operators.Dedup.fpSubstrSpans(docs, "doc_id", "text", L))
    assert(fp === exact)
    assert(exact.nonEmpty)
  }

  test("property: rolling window hashes equal per-window Horner recompute (unicode included)") {
    import graft.functions.expressions.RollingWindowHashes._
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf('a', 'b', 'c').map(_.toString), 2 -> Gen.const(" "),
      1 -> Gen.oneOf("é", "中", "🦀", "ß"))).map(_.mkString)
    val B = 1000000007L
    for (t <- sample(strGen, 60, 71L) ++ Seq("", "ab", "aaaa", "é中🦀ßé中🦀ß")) {
      val cps = t.codePoints().toArray.map(_.toLong)
      val L = 3
      val want = (0 to cps.length - L).map { p =>
        cps.slice(p, p + L).foldLeft(0L)((acc, c) => (mulmod(acc, B) + c) % M61)
      }
      val got = compute(UTF8String.fromString(t), L, B).toLongArray().toSeq
      assert(got === want, s"mismatch for <$t>")
    }
  }

  test("property: rolling anchor positions equal the direct 8-term fingerprint formula") {
    import graft.functions.expressions.AnchorPositions
    import org.apache.spark.unsafe.types.UTF8String
    val strGen = Gen.listOf(Gen.frequency(
      6 -> Gen.oneOf('a', 'b', 'c', ' ').map(_.toString),
      1 -> Gen.oneOf("é", "中", "🦀"))).map(_.mkString)
    val P = 1000000007L
    for (t <- sample(strGen, 80, 83L) ++ Seq("", "short", "a" * 100)) {
      val cps = t.codePoints().toArray
      for ((minLen, every) <- Seq((9, 4), (12, 8), (20, 1))) {
        val m = cps.length - minLen + 1
        // the direct (non-rolling) definition the DuckDB oracles mirror:
        // raw 31^i literals, sum, mod P, mod anchorEvery
        val want = (1 to math.max(m, 0)).filter { p =>
          val h = (0 until 8).map(i =>
            cps(p - 1 + i).toLong * math.pow(31.0, i).toLong).sum % P
          h % every == 0
        }
        val got = AnchorPositions.compute(UTF8String.fromString(t), minLen, every)
          .toIntArray().toSeq
        assert(got === want, s"mismatch for <$t> minLen=$minLen every=$every")
      }
    }
  }

  test("regression: kernels survive malformed UTF-8 (numChars disagrees with the decode walk)") {
    import graft.functions.expressions.{AnchorPositions, PolyHash, RollingWindowHashes}
    import org.apache.spark.unsafe.types.UTF8String
    // 0xF0 starts a 4-byte sequence that is truncated by 'b','c' — numChars
    // counts it as one char spanning past the end, the fallback walk emits
    // three code points; numChars-sized buffers overran here (review find)
    val bad = UTF8String.fromBytes(
      (Array.fill[Byte](60)('a'.toByte) :+ 0xF0.toByte) ++ Array[Byte]('b', 'c'))
    val cps = PolyHash.codePoints(bad.getBytes)
    assert(cps.length === 63) // 60×'a' + 0xF0-as-raw-byte + 'b' + 'c'
    for (trial <- 1 to 2) { // deterministic, no throw
      assert(AnchorPositions.compute(bad, 9, 4).toIntArray().toSeq ===
        AnchorPositions.compute(bad, 9, 4).toIntArray().toSeq, s"trial $trial")
      assert(RollingWindowHashes.compute(bad, 50, 31L).toLongArray().length === 63 - 50 + 1)
    }
    // stray continuation + overlong-ish lead bytes, and a bare lead at EOF
    val stray = UTF8String.fromBytes(Array[Byte](0x80.toByte, 'x', 0xC0.toByte))
    assert(PolyHash.codePoints(stray.getBytes).length === 3)
    assert(AnchorPositions.compute(stray, 9, 4).numElements() === 0) // shorter than minLen
    assert(RollingWindowHashes.compute(stray, 2, 31L).toLongArray().length === 2)
  }

  test("regression: applyDiff serialization is injective under delimiter-bearing values") {
    import graft.operators.Diff
    // before escaping, (a="x;b=y", b=NULL) and (a="x", b="y") serialized
    // identically and a NULL-key delete could remove the wrong row
    val prev = Seq(
      (Option.empty[Long], Option("x;b=y"), Option.empty[String]),
      (Option.empty[Long], Option("x"), Option("y")),
      (Option(1L), Option("keep"), Option("row")))
      .toDF("k", "a", "b")
    // next drops ONLY the (a="x", b="y") row
    val next = Seq(
      (Option.empty[Long], Option("x;b=y"), Option.empty[String]),
      (Option(1L), Option("keep"), Option("row")))
      .toDF("k", "a", "b")
    val applied = Diff.applyDiff(prev, Diff.snapshotDiff(prev, next, Seq("k")), Seq("k"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(Option(_).map(_.toString).getOrElse("∅"))).toSeq
        .sortBy(_.mkString("|"))
    assert(canon(applied) === canon(next))
    // and backslash-bearing values cannot forge an escape
    val prev2 = Seq(
      (Option.empty[Long], Option("""x\"""), Option(";y")),
      (Option.empty[Long], Option("""x\;y"""), Option.empty[String]))
      .toDF("k", "a", "b")
    val next2 = prev2.limit(0)
    val applied2 = Diff.applyDiff(prev2, Diff.snapshotDiff(prev2, next2, Seq("k")), Seq("k"))
    assert(applied2.count() === 0)
  }

  test("property: incremental-scan invariant — second delta is empty") {
    // the reference's core contract (main.py:149-151): no changes => no work
    val rows = sample(Gen.zip(Gen.identifier.map(_.take(8)), Gen.chooseNum(1L, 1e9.toLong)), 100, 37L)
      .distinctBy(_._1).map { case (p, m) => (p, m) }
    val scan = rows.toDF("path", "mtime")
    val afterSync = scan.select($"path", $"mtime".as("last_edit_time"))
    assert(graft.pipeline.Delta.changed(scan, afterSync).count() === 0)
  }

  // directed edge-set generator over a small node universe; nonempty,
  // distinct, no self-loops
  private def edgeGen(nNodes: Int): Gen[Seq[(Long, Long)]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0L, nNodes - 1L), Gen.chooseNum(0L, nNodes - 1L)))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.nonEmpty)

  test("property: pageRankWeighted mass conservation — ranks sum to 1 with dangling nodes") {
    import graft.operators.Graph
    for ((edges, i) <- sample(edgeGen(8), 4, 59L).zipWithIndex) {
      val df = edges.map { case (a, b) => (a, b, 1.0 + (a + b) % 3) }.toDF("src", "dst", "w")
      val prs = Graph.pageRankWeighted(df, "src", "dst", "w", iters = 6)
        .collect().map(_.getDouble(1))
      // dangling redistribution means NO mass leaks: Σpr = 1 up to the
      // per-node 1e-6 rounding quantum
      assert(math.abs(prs.sum - 1.0) <= prs.length * 1e-6,
        s"graph $i: ranks sum to ${prs.sum}, edges=$edges")
    }
    // and the generator really exercises dangling nodes in at least one graph
    val dangled = sample(edgeGen(8), 4, 59L).exists { edges =>
      val outs = edges.map(_._1).toSet
      edges.map(_._2).exists(d => !outs.contains(d))
    }
    assert(dangled, "generator produced no dangling node — weaken the seed or sizes")
  }

  test("property: pageRankWeighted is invariant under uniform weight scaling") {
    import graft.operators.Graph
    for (edges <- sample(edgeGen(8), 3, 61L)) {
      val base = edges.map { case (a, b) => (a, b, 1.0 + (a * 7 + b) % 5) }
      def run(scale: Double) = Graph.pageRankWeighted(
          base.map { case (a, b, w) => (a, b, w * scale) }.toDF("src", "dst", "w"),
          "src", "dst", "w", iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val (r1, r4) = (run(1.0), run(4.0))
      assert(r1.keySet === r4.keySet)
      // contribution is w/Σw per source, so a global scale cancels exactly
      // in the real-number algebra; FP division by a scaled sum can move a
      // value one rounding quantum
      for (k <- r1.keySet)
        assert(math.abs(r1(k) - r4(k)) <= 1e-6, s"node $k: ${r1(k)} vs ${r4(k)}")
    }
  }

  test("property: pageRank ≡ pageRankWeighted on unit-weight symmetrized graphs") {
    import graft.operators.Graph
    for (edges <- sample(edgeGen(7), 3, 67L)) {
      val sym = (edges ++ edges.map(_.swap)).distinct
      val plain = Graph.pageRank(sym.toDF("src", "dst"), "src", "dst", iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val weighted = Graph.pageRankWeighted(
          sym.map { case (a, b) => (a, b, 1.0) }.toDF("src", "dst", "w"),
          "src", "dst", "w", iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(plain.keySet === weighted.keySet)
      // no dangling mass on a symmetrized graph, so the two recurrences are
      // the same real-number map; allow one rounding quantum for the extra
      // ×1.0/Σ1.0 arithmetic on the weighted path
      for (k <- plain.keySet)
        assert(math.abs(plain(k) - weighted(k)) <= 1e-6, s"node $k: ${plain(k)} vs ${weighted(k)}")
    }
  }

  test("property: raising one edge's weight raises its target's rank") {
    import graft.operators.Graph
    // star-plus-cycle: node 0 points to 1 and 2; cycle keeps mass moving.
    // Boosting 0→1's weight must strictly increase node 1's rank.
    val cycle = Seq((1L, 0L, 1.0), (2L, 0L, 1.0))
    def run(w01: Double) = Graph.pageRankWeighted(
        (Seq((0L, 1L, w01), (0L, 2L, 1.0)) ++ cycle).toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (lo, hi) = (run(1.0), run(3.0))
    assert(hi(1L) > lo(1L))
    assert(hi(2L) < lo(2L))
  }

  test("property: longestDupPrefix equals brute force on random {a,b} corpora") {
    import graft.operators.SuffixRank
    // tiny alphabet → constant collisions at every length; random lengths
    // exercise the shorter-sorts-first sentinel and the doubling boundary
    val docGen = Gen.chooseNum(1, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val texts = sample(docGen, 6, 71L)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
    val want = (for {
      (ta, da) <- texts.zipWithIndex; pa <- 0 until ta.length
    } yield {
      val best = (for {
        (tb, db) <- texts.zipWithIndex; pb <- 0 until tb.length
        if (da, pa) != (db, pb)
      } yield lcp(ta.substring(pa), tb.substring(pb))).max
      (da.toLong, pa.toLong) -> best
    }).filter(_._2 >= 2).toMap
    val got = SuffixRank.longestDupPrefix(spark, docs, "doc_id", "t", minLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(want.nonEmpty) // the generator really produced repeats
  }

  test("property: crossCorpusOverlap equals cross-side brute force on random corpora") {
    import graft.operators.SuffixRank
    val docGen = Gen.chooseNum(1, 18).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b')).map(_.mkString))
    val trainT = sample(docGen, 4, 83L)
    val testT = sample(docGen, 3, 89L)
    val train = trainT.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    val test = testT.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "t")
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
    val want = (for {
      (ta, da) <- testT.zipWithIndex; pa <- 0 until ta.length
    } yield {
      val best = (for { tb <- trainT; pb <- 0 until tb.length }
        yield lcp(ta.substring(pa), tb.substring(pb))).max
      (da.toLong, pa.toLong) -> best
    }).filter(_._2 >= 2).toMap
    val got = SuffixRank.crossCorpusOverlap(spark, train, test, "doc_id", "t", minLen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("property: nfc is idempotent and preserves canonical equivalence classes") {
    import graft.functions.TextFunctions.nfc
    import java.text.Normalizer
    // strings mixing ASCII, precomposed accents, and combining marks
    val strGen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString), 2 -> Gen.const(" "),
      2 -> Gen.oneOf("\u00e9", "e\u0301", "\u00c5", "A\u030a", "\u00f1", "n\u0303"),
      1 -> Gen.oneOf("\u4e2d", "\ud83e\udd80", "\u0301") // lone combining mark edge
    )).map(_.mkString)
    val texts = sample(strGen, 200, 97L) :+ "" :+ "\u0301"
    val df = texts.toDF("raw")
    val got = df.select(nfc($"raw").as("n1"), nfc(nfc($"raw")).as("n2"), $"raw").collect()
    got.foreach { r =>
      val (n1, n2, raw) = (r.getString(0), r.getString(1), r.getString(2))
      assert(n1 === Normalizer.normalize(raw, Normalizer.Form.NFC)) // matches the JDK reference
      assert(n2 === n1)                                             // idempotent
    }
  }

  test("property: temperatureMix quotas sum to the budget and respect size order") {
    import graft.operators.Sampling
    val profileGen = for {
      k <- Gen.chooseNum(1, 12)
      sizes <- Gen.listOfN(k, Gen.chooseNum(1L, 5000000L))
      alpha <- Gen.oneOf(0.25, 0.5, 0.7, 1.0)
      budget <- Gen.chooseNum(1L, 10000L)
    } yield (sizes, alpha, budget)
    for ((sizes, alpha, budget) <- sample(profileGen, 25, 41L)) {
      val counts = sizes.zipWithIndex
        .map { case (n, i) => (f"s$i%02d", n) }.toDF("source", "n")
      val rows = Sampling.temperatureMix(counts, "source", "n", alpha, budget)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(rows.map(_._3).sum == budget,
        s"quotas must sum to the budget (alpha=$alpha budget=$budget sizes=$sizes)")
      assert(rows.forall(_._3 >= 0))
      // size-monotone up to the ±1 largest-remainder unit: a strictly larger
      // source can never receive a quota 2+ BELOW a smaller one
      for ((sa, na, qa) <- rows; (_, nb, qb) <- rows if na > nb)
        assert(qa >= qb - 1, s"larger source $sa under-allocated: $qa vs $qb")
    }
  }
  test("property: IndexErasure repair+append converge to rebuild on random plans") {
    import graft.pipeline.IndexErasure
    // random partitioned indexes, random tombstone/delta sets — after any
    // repair/append sequence the index must equal the set-algebra rebuild
    // (base − tombstones) ∪ delta, with erased-empty partitions gone
    val caseGen = for {
      n <- Gen.chooseNum(1, 40)
      nCells <- Gen.chooseNum(1, 6)
      tombFrac <- Gen.chooseNum(0, 10)
      nDelta <- Gen.chooseNum(0, 8)
    } yield (n, nCells, tombFrac, nDelta)
    sample(caseGen, 6, 23L).zipWithIndex.foreach { case ((n, nCells, tombFrac, nDelta), ci) =>
      val root = tempDir("graft_prop").resolve("idx").toString
      val rows = (0L until n.toLong).map(i => (i, i % nCells, s"p$i"))
      IndexErasure.ensurePartitioned(spark, root, "cell")(
        rows.toDF("id", "cell", "payload"))
      val tombIds = rows.map(_._1).filter(i => tombFrac > 0 && i % 10 < tombFrac)
      val deltaRows = (0 until nDelta).map(j => (1000L + j, j.toLong % (nCells + 1), s"d$j"))
      // erase, then append (order exercised the other way in the unit spec)
      if (tombIds.nonEmpty) {
        val touched = tombIds.map(_ % nCells).distinct
        IndexErasure.repairErased(spark, root, "cell", touched, "id",
          tombIds.toDF("id"))
      }
      if (deltaRows.nonEmpty)
        IndexErasure.appendRows(spark, root, "cell", "id",
          deltaRows.toDF("id", "cell", "payload"))
      val got = IndexErasure.readPartitioned(spark, root, "cell")
        .select("id", "cell", "payload").as[(Long, Long, String)].collect().toSet
      val want = (rows.filterNot(r => tombIds.contains(r._1)) ++ deltaRows).toSet
      assert(got === want, s"case $ci: n=$n cells=$nCells tomb=$tombFrac delta=$nDelta")
      // fully-erased partitions leave no directory behind
      (0L until nCells.toLong).foreach { c =>
        val live = want.exists(_._2 == c)
        val dir = new java.io.File(s"$root/cell=$c")
        if (!live) assert(!dir.exists(), s"case $ci: empty cell=$c must be dropped")
      }
    }
  }

  test("property: TTTD chain invariants on generated corpora (bounds, conservation, nesting)") {
    // random word-soup corpora with a heavy length tail so some shards
    // exceed maxShardTokens and the backup sub-cuts actually fire
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "query", "scan",
      "sort", "merge", "the", "and", "x")
    val docGen = Gen.chooseNum(1, 120).flatMap(n => Gen.listOfN(n, wordGen))
      .map(_.mkString(" "))
    val budget = 64L; val minGap = 32L; val maxTok = 128L
    for (seed <- Seq(7L, 23L)) {
      val texts = sample(docGen, 250, seed)
      val docs = texts.zipWithIndex
        .map { case (t, i) => (i.toLong, t, s"s${i % 3}") }
        .toDF("doc_id", "text", "source")
      val total = docs.select(sum(tokenCount(col("text")).cast("long")))
        .head.getLong(0)
      val maxDoc = docs.select(max(tokenCount(col("text")).cast("long")))
        .head.getLong(0)
      val mg = graft.operators.Export.shardManifestCdcTokenAwareMinGap(
        docs, "doc_id", "text", "source", budget, minGap).collect()
      // min-gap floor: every shard except possibly the tail holds >= minGap
      // tokens (a surviving cut's gap from the previous cut is >= minGap,
      // and shard mass >= its cut-to-cut gap)
      assert(mg.dropRight(1).forall(_.getLong(2) >= minGap),
        s"seed $seed: min-gap floor violated")
      assert(mg.map(_.getLong(2)).sum === total, s"seed $seed: min-gap conservation")
      val tttd = graft.operators.Export.shardManifestCdcTokenAwareTttd(
        docs, "doc_id", "text", "source", budget, minGap, maxTok).collect()
      assert(tttd.map(_.getLong(3)).sum === total, s"seed $seed: tttd conservation")
      // 2x window bound + one doc
      assert(tttd.forall(_.getLong(3) < 2 * maxTok + maxDoc),
        s"seed $seed: piece bound violated: ${tttd.map(_.getLong(3)).max}")
      // NESTING: every tttd piece lives inside exactly one min-gap shard,
      // and the per-shard piece masses sum to the shard mass
      val shardMass = mg.map(r => r.getLong(0) -> r.getLong(2)).toMap
      tttd.groupBy(_.getLong(0)).foreach { case (sid, rows) =>
        assert(rows.map(_.getLong(3)).sum === shardMass(sid),
          s"seed $seed: shard $sid pieces do not tile the shard")
      }
    }
  }

  test("property: erase wins under ANY random append/erase interleaving") {
    import graft.pipeline.IndexErasure
    // base index + a delta whose ids OVERLAP the tombstone set, applied as
    // a random multiset of append/erase operations (replays included, both
    // orders). Whatever the interleaving, the tombstone log guarantees the
    // fixed point: (base ∪ delta) − tombstones, with erased-empty
    // partitions gone — the set-algebra semantics q255/q263 pin on the
    // real artifact, here generatively.
    val caseGen = for {
      n <- Gen.chooseNum(3, 30)
      nCells <- Gen.chooseNum(1, 5)
      nDelta <- Gen.chooseNum(1, 8)
      tombFrac <- Gen.chooseNum(1, 10)
      ops <- Gen.listOfN(4, Gen.oneOf("append", "erase")) // plus one of each, below
    } yield (n, nCells, nDelta, tombFrac, ops)
    sample(caseGen, 5, 61L).zipWithIndex.foreach {
      case ((n, nCells, nDelta, tombFrac, ops0), ci) =>
        val root = tempDir("graft_propew").resolve("idx").toString
        val base = (0L until n.toLong).map(i => (i, i % nCells, s"p$i"))
        // delta ids extend the base range CONTIGUOUSLY so tombstones drawn
        // from the whole range overlap both base and delta
        val delta = (n.toLong until (n + nDelta).toLong).map(i => (i, i % nCells, s"d$i"))
        val allIds = (base ++ delta).map(_._1)
        val tombIds = allIds.filter(_ % 10 < tombFrac)
        IndexErasure.ensurePartitioned(spark, root, "cell")(
          base.toDF("id", "cell", "payload"))
        // at least one append and one erase, then the random tail
        val ops = "append" +: "erase" +: ops0
        ops.foreach {
          case "append" =>
            IndexErasure.appendRows(spark, root, "cell", "id",
              delta.toDF("id", "cell", "payload"))
          case _ if tombIds.nonEmpty =>
            IndexErasure.repairErased(spark, root, "cell",
              tombIds.map(_ % nCells).distinct, "id", tombIds.toDF("id"))
          case _ => ()
        }
        val want = (base ++ delta).filterNot(r => tombIds.contains(r._1))
          .map(r => (r._1, r._2)).toSet
        if (want.isEmpty) {
          // a FULLY-erased index holds no partition dirs at all (every
          // cell dropped); there is nothing left to read
          val dirs = Option(new java.io.File(root).listFiles()).toSeq.flatten
            .filter(f => f.isDirectory && f.getName.startsWith("cell="))
          assert(dirs.isEmpty, s"case $ci: fully-erased index must hold no partitions")
        } else {
          val got = IndexErasure.readPartitioned(spark, root, "cell")
            .select("id", "cell").as[(Long, Long)].collect().toSet
          assert(got === want,
            s"case $ci: ops=${ops.mkString(",")} n=$n cells=$nCells tomb=${tombIds.size}")
        }
        // erased ids can never resurface: the log covers exactly tombIds
        val logged = IndexErasure.erasedIds(spark, root).map(
          _.as[Long].collect().toSet).getOrElse(Set.empty)
        assert(tombIds.toSet.subsetOf(logged), s"case $ci: log must cover the erasure")
    }
  }

  test("property: purgeBatches ≡ rebuild-on-survivors with an exact manifest") {
    import graft.pipeline.{ArtifactStore, IndexErasure}
    val caseGen = for {
      nBatches <- Gen.chooseNum(1, 4)
      sizes <- Gen.listOfN(nBatches, Gen.chooseNum(1, 10))
      pool <- Gen.chooseNum(4, 12)
      tombFrac <- Gen.chooseNum(0, 6)
    } yield (sizes, pool, tombFrac)
    sample(caseGen, 5, 91L).zipWithIndex.foreach { case ((sizes, pool, tombFrac), ci) =>
      val root = tempDir("graft_proppb").resolve("hits").toString
      // deterministic pseudo-random refs from a small id pool so tombstones
      // genuinely intersect both columns
      val rows = sizes.zipWithIndex.map { case (sz, b) =>
        (0 until sz).map { i =>
          ((b * 31L + i * 7L) % pool, (b * 17L + i * 13L + 1L) % pool)
        }
      }
      rows.zipWithIndex.foreach { case (rs, b) =>
        ArtifactStore.appendBatchIfAbsent(spark, root, b.toLong)(
          rs.toDF("test_id", "train_id"))
      }
      val tombIds = (0L until pool.toLong).filter(_ % 7 < tombFrac)
      val manifest = IndexErasure.purgeBatches(spark, root,
        Seq("test_id", "train_id"), tombIds.toDF("doc_id"), "doc_id")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val tomb = tombIds.toSet
      val survivors = rows.flatten
        .filterNot(r => tomb.contains(r._1) || tomb.contains(r._2))
      val got = ArtifactStore.readBatches(spark, root)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(got === survivors.sorted, s"case $ci: purge must equal survivor rebuild")
      // manifest: exact per-batch accounting (n_before includes dups rows)
      rows.zipWithIndex.foreach { case (rs, b) =>
        val (nb, nr, na) = manifest(s"b$b")
        val rm = rs.count(r => tomb.contains(r._1) || tomb.contains(r._2))
        assert((nb, nr, na) === ((rs.size.toLong, rm.toLong, (rs.size - rm).toLong)),
          s"case $ci batch $b: manifest mismatch")
      }
    }
  }

}
