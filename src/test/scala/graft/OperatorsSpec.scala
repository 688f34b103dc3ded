package graft

import graft.operators.{AnnIndex, Dedup, TopK, Upsert}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // ---- Upsert (C1 last-writer-wins, main.py:113-123,185 semantics) ----

  private lazy val base = Seq(("a", 1.0, 1L), ("b", 2.0, 1L), ("c", 3.0, 1L)).toDF("id", "v", "version")
  private lazy val upd  = Seq(("b", 20.0, 2L), ("d", 4.0, 2L)).toDF("id", "v", "version")

  test("upsert: updates replace, inserts append, untouched rows survive") {
    val m = Upsert.merge(base, upd, Seq("id"), "version")
      .orderBy("id").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(m === Seq(("a", 1.0), ("b", 20.0), ("c", 3.0), ("d", 4.0)))
  }

  test("upsert: equal version -> update wins (INSERT OR REPLACE)") {
    val updSameV = Seq(("b", 99.0, 1L)).toDF("id", "v", "version")
    val m = Upsert.merge(base, updSameV, Seq("id"), "version")
      .filter($"id" === "b").head.getDouble(1)
    assert(m === 99.0)
  }

  test("upsert idempotency: merge(merge(s,d),d) == merge(s,d)") {
    val once  = Upsert.merge(base, upd, Seq("id"), "version")
    val twice = Upsert.merge(once, upd, Seq("id"), "version")
    val a = once.orderBy("id").collect().toSeq
    val b = twice.orderBy("id").collect().toSeq
    assert(a === b)
  }

  // ---- Dedup ----

  private lazy val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta"),       // exact dup of 1
    (3L, "alpha beta gamma delta epsilon zeta eta iota"),        // near dup of 1
    (4L, "completely different words nothing shared here at all"),
  ).toDF("doc_id", "text")

  test("exactDedup keeps lowest id per distinct text") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text").select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq === Seq(1L, 3L, 4L))
  }

  test("jaccardPairsExact finds exact and near dups above threshold") {
    val pairs = Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhashLshPairs recovers the exact-dup pair with jac=1") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 32, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 === 1.0))
  }

  test("simhashPairs: identical texts at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
  }

  test("dropNearDuplicates keeps first occurrence, drops later near-dups") {
    val kept = Dedup.dropNearDuplicates(docs, "doc_id", "text", 3, 32, 16, 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.contains(1L) && kept.contains(4L))
    assert(!kept.contains(2L)) // exact dup of 1
  }

  test("clusters: min-label connected components over the pair graph") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("clusters: path graph deeper than 10 converges through checkpoints") {
    // 16-node path 0-1-2-…-15 (diameter 15 > default maxIter): min-label
    // propagation needs 15 rounds, crossing several localCheckpoint()
    // boundaries — the lineage-truncation path must preserve correctness
    val pairs = (0L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, maxIter = 20)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to 15L).map(_ -> 0L).toMap)
  }

  test("clusters: maxIter cap returns partial labels without throwing (warned)") {
    // path 0-…-6 needs ~6 rounds; maxIter=2 must exit cleanly via the warn
    // path with labels only partially propagated (NOT all 0)
    val pairs = (0L until 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 7)
    assert(got(0L) === 0L)
    assert(got.values.exists(_ != 0L)) // genuinely unconverged, not silently complete
  }

  test("KMV sketch saturation: fewer distinct hashes than k reports the exact count") {
    import graft.operators.Sketches
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val row = Sketches.kmvDistinctNgrams(docs, "text", n = 3, k = 1024).head
    val exact = row.getAs[Long]("exact_distinct")
    assert(exact > 0 && exact < 1024)
    assert(row.getAs[Double]("est_distinct") === exact.toDouble) // exact regime, no extrapolation
    assert(row.getAs[Double]("rel_err") === 0.0)
  }

  test("capPerKey: equals a driver-side reference top-n per key (skewed input)") {
    import graft.operators.Curation
    // skewed: key "hot" has 60 of 70 rows; spread over 7 input partitions so
    // the map-side WindowGroupLimit genuinely runs per (partition, key).
    // The expected set is computed in PLAIN SCALA (not another Spark window,
    // which would share the implementation under test).
    val rows = (1L to 60L).map(i => ("hot", i, i % 13)) ++ (61L to 70L).map(i => ("cold", i, i % 7))
    val df = rows.toDF("k", "id", "v").repartition(7)
    val got = Curation.capPerKey(df, "k", Seq(col("v").desc, col("id")), n = 5)
      .select("k", "id", "rank").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = rows.groupBy(_._1).flatMap { case (_, g) =>
      g.sortBy { case (_, id, v) => (-v, id) }.take(5)
        .zipWithIndex.map { case ((k, id, _), i) => (k, id, (i + 1).toLong) }
    }.toSet
    assert(got === want)
    assert(got.count(_._1 == "hot") === 5 && got.count(_._1 == "cold") === 5)
  }

  test("weightedSample: deterministic, weight-monotone selection, zero weights excluded") {
    import graft.operators.Sampling
    val df = (1L to 200L).map(i => (i, if (i % 50 == 0) 0L else i)).toDF("id", "w")
    val a = Sampling.weightedSample(df, "id", "w", k = 30).collect().map(_.getLong(0)).toSeq
    val b = Sampling.weightedSample(df, "id", "w", k = 30).collect().map(_.getLong(0)).toSeq
    assert(a === b)           // stable across runs
    assert(a.length === 30)
    assert(!a.exists(_ % 50 == 0)) // zero-weight rows never sampled
    // heavier rows are favored: mean weight of the sample beats the population mean
    val sampled = df.filter(col("id").isin(a: _*)).agg(avg("w")).head.getDouble(0)
    val popMean = df.filter(col("w") > 0).agg(avg("w")).head.getDouble(0)
    assert(sampled > popMean)
  }

  test("weightedSamplePerStratum: k winners per group, consistent with the global sample order") {
    import graft.operators.Sampling
    val df = (1L to 120L).map(i => (i, i % 3 match { case 0 => "en"; case 1 => "de"; case _ => "fr" }, i))
      .toDF("id", "lang", "w")
    // output columns: id, lang, w, priority, rank
    val got = Sampling.weightedSamplePerStratum(df, "id", "w", "lang", k = 4)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(4)))
    assert(got.length === 12)
    assert(got.groupBy(_._1).forall { case (_, g) => g.map(_._3).sorted.toSeq === Seq(1L, 2L, 3L, 4L) })
    // the per-stratum winners are exactly the stratum's global-priority heads
    val allRanked = Sampling.weightedSample(df, "id", "w", k = 120)
      .collect().map(_.getLong(0))
    val enHeads = allRanked.filter(_ % 3 == 0).take(4).toSet
    assert(got.filter(_._1 == "en").map(_._2).toSet === enHeads)
  }

  test("randomProjection: 16 components, linear, zero maps to zero") {
    import graft.operators.AnnIndex
    val v = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val df = Seq((1L, v), (2L, v.map(_ * 2)), (3L, Array.fill(64)(0f))).toDF("id", "vec")
    val got = AnnIndex.randomProjection(df, "id", "vec", outDim = 16, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(1L).length === 16)
    assert(got(3L).forall(_ === 0.0))
    // linearity up to the 1e-6 rounding: proj(2v) ≈ 2·proj(v)
    got(1L).zip(got(2L)).foreach { case (p1, p2) => assert(math.abs(p2 - 2 * p1) < 2e-6) }
  }

  test("bigramScore: mean conditional bigram probability on a tiny corpus") {
    import graft.operators.LanguageModel
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("doc_id", "text")
    val got = LanguageModel.bigramScore(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // bigrams: doc1 (a,b),(b,a),(a,b); doc2 (a,c). c(a,·)=3, c(b,·)=1.
    // doc1: avg(2/3, 1/1, 2/3) = 7/9; doc2: 1/3. doc3 has no bigrams.
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((3L, 0.777778)))
    assert(got(2L) === ((1L, 0.333333)))
  }

  test("winsorize: clips into the band, preserves rows, in-band values untouched") {
    import graft.operators.Curation
    val rows = (1L to 100L).map(i => (i, if (i % 2 == 0) "a" else "b", i * i % 97 + (if (i == 50) 10000L else 0L)))
    val df = rows.toDF("id", "g", "v")
    // join on the group col reorders to (g, id, v, lo, hi, clipped)
    val got = Curation.winsorize(df, "v", "g", 0.1, 0.9)
      .select("id", "v", "lo", "hi", "clipped")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.length === rows.length)  // clipping never drops rows
    got.foreach { case (_, v, lo, hi, clipped) =>
      assert(lo <= hi)
      assert(clipped >= lo && clipped <= hi)
      if (v >= lo && v <= hi) assert(clipped === v.toDouble) // in-band untouched
    }
    // the planted outlier (id=50, ~10000) actually got clipped down
    val out = got.find(_._1 === 50L).get
    assert(out._2 > out._4 && out._5 === out._4)
  }

  test("profile: counts match hand computation, non-numeric min/max are null") {
    import graft.operators.Profile
    val df = Seq((1L, Some("x"), 2.0), (2L, None, 4.0), (3L, Some("x"), 4.0), (4L, Some("y"), 8.0))
      .toDF("id", "s", "d")
    val got = Profile.profile(df, Seq("id", "s", "d"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), Option(r.get(4)), Option(r.get(5))))).toMap
    assert(got("id") === ((4L, 0L, 4L, Some(1.0), Some(4.0))))
    assert(got("s")  === ((4L, 1L, 2L, None, None))) // distinct ignores the null
    assert(got("d")  === ((4L, 0L, 3L, Some(2.0), Some(8.0))))
  }

  test("countMinTokens: never underestimates; a tiny width forces real overcounts") {
    import graft.operators.Sketches
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c a a b")).toDF("doc_id", "text")
    // width=2 crams 8 distinct tokens into 2 buckets per row — collisions
    // are forced, so est > n must actually occur (and est >= n always)
    val rows = Sketches.countMinTokens(docs, "text", depth = 2, width = 2, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, n, est, over) => est >= n && over === est - n })
    assert(rows.exists(_._4 > 0), "width=2 over 8 tokens must collide somewhere")
    // generous width: every estimate exact
    val wide = Sketches.countMinTokens(docs, "text", depth = 4, width = 4096, topK = 10)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(wide.forall { case (n, est) => est === n })
  }

  test("piiScrub redacts emails, IPs, phone runs in rule order") {
    import graft.operators.Cleaning
    val d = Seq(
      (1L, "contact bob.smith+x@corp-mail.co.uk or call +1 (555) 123-4567 now"),
      (2L, "server at 192.168.0.1 and 10.0.0.255 responded"),
      (3L, "plain text with no pii at all"),
    ).toDF("doc_id", "text")
    val r = Cleaning.piiScrub(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(r(0).getLong(1) === 1 && r(0).getLong(3) === 1) // email + phone
    assert(r(0).getString(4).contains("<EMAIL>") && r(0).getString(4).contains("<PHONE>"))
    assert(r(1).getLong(2) === 2)                           // two IPs
    assert(r(1).getString(4) === "server at <IP> and <IP> responded")
    assert(r(2).getString(4) === "plain text with no pii at all")
    // an IP is NOT additionally eaten by the phone rule (order contract)
    assert(!r(1).getString(4).contains("<PHONE>"))
  }

  test("decontaminate drops exactly the docs sharing an n-gram with the benchmark") {
    import graft.operators.Decontaminate
    val bench = Seq((100L, "the secret eval answer is here")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "totally unrelated words about spark plans"),
      (2L, "leaked copy: the secret eval answer is here too"), // shares trigrams
      (3L, "mentions secret eval once but not three in a row"),
      (4L, "the secret eval"),                                  // exactly one shared trigram
    ).toDF("doc_id", "text")
    val kept = Decontaminate.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L, 3L))
    val bad = Decontaminate.contaminatedIds(corpus, "doc_id", "text", bench, "text", 3)
      .collect().map(_.getLong(0)).toSet
    assert(bad === Set(2L, 4L))
  }

  test("curate applies gates, dedup, decontamination, and sampling in order") {
    import graft.operators.Curation
    val longText = (1 to 120).map(i => s"w$i").mkString(" ") + " the and of is a the and"
    val corpus = Seq(
      (1L, longText, "en"),                                     // survives everything
      (2L, longText, "en"),                                     // exact dup of 1 -> dropped (keep-first)
      (3L, "tiny", "en"),                                       // quality gate drops
      (4L, Seq.fill(50)("spam ham").mkString(" "), "en"),       // repetition gate drops
      (5L, "the eval secret answer is hidden right here ok " +
        (1 to 110).map(i => s"u$i").mkString(" ") + " the and of is a", "en"), // contaminated
    ).toDF("doc_id", "text", "lang")
    val bench = Seq((9L, "the eval secret answer is hidden right here")).toDF("doc_id", "text")
    val p = Curation.Params(ratePercent = Map("en" -> 100), defaultPercent = 100) // sampling keeps all
    val kept = Curation.curate(corpus, "doc_id", "text", bench, "text", "lang", p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(1L))
    // sampling stage actually fires: 0% keeps nothing
    val none = Curation.curate(corpus, "doc_id", "text", bench, "text", "lang",
      p.copy(ratePercent = Map.empty, defaultPercent = 0))
    assert(none.count() === 0)
  }

  test("repetitionScore: 0 for all-distinct, high for repeated n-grams") {
    import graft.functions.TextFunctions.repetitionScore
    val d = Seq(
      ("a b c d e f", 0.0),            // 4 distinct trigrams of 4
      ("x y x y x y x y", 4.0 / 6.0),  // 2 distinct trigrams of 6
      ("a b", 0.0),                    // too short -> 0 by convention
    ).toDF("text", "expected")
    val bad = d.filter(abs(repetitionScore($"text", 3) - $"expected") > 1e-12).count()
    assert(bad === 0)
  }

  // ---- TopK ----

  private lazy val corpus = Seq(
    (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)), (3L, Array(0.0, 1.0)), (4L, Array(-1.0, 0.0)),
  ).toDF("id", "v")

  test("topK orders by cosine desc with id tiebreak") {
    val r = TopK.topK(corpus, "v", "id", Seq(1.0, 0.0), 3).select("id").collect().map(_.getLong(0))
    assert(r.toSeq === Seq(1L, 2L, 3L))
  }

  test("hashBucket: mixes structured keys fairly and survives huge keys") {
    import graft.operators.Sampling
    // all-even keys (the residue-class trap a bare multiplicative hash falls
    // into: 2654435761 ≡ 61 mod 100 makes the bucket a function of key%100)
    val even = spark.range(0, 20000, 2).toDF("k")
    val kept = even.filter(Sampling.hashBucket($"k") < 10).count()
    assert(kept > 500 && kept < 1500, s"kept=$kept of 10000 even keys at 10%")
    // multiples of 10
    val tens = spark.range(0, 100000, 10).toDF("k")
    val keptTens = tens.filter(Sampling.hashBucket($"k") < 10).count()
    assert(keptTens > 500 && keptTens < 1500, s"kept=$keptTens of 10000 x10 keys at 10%")
    // keys past 3.5e9 used to overflow (ANSI throw); now reduced mod P first
    val big = Seq(4000000000L, Long.MaxValue, Long.MinValue, -7L).toDF("k")
    val buckets = big.select(Sampling.hashBucket($"k")).collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 100))
  }

  test("knnJoin NaN vectors: both paths agree (floorRound coerces NaN to 0.0)") {
    val dirty = corpus.union(Seq((9L, Array(Double.NaN, 1.0))).toDF("id", "v"))
    val qs = corpus.filter($"id" === 1).select($"id".as("q_id"), $"v".as("q_v"))
    val agg = TopK.knnJoin(qs, "q_id", "q_v", dirty.withColumnRenamed("id", "c_id"), "c_id", "v", 10)
      .select("c_id", "score").collect().map(r => r.getLong(0).toString -> r.getDouble(1)).toMap
    val win = TopK.knnJoin(qs, "q_id", "q_v",
        dirty.withColumn("c_id", format_string("%d", $"id")).drop("id"), "c_id", "v", 10)
      .select("c_id", "score").collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(agg === win)           // pre-reduced and window paths identical
    assert(agg("9") === 0.0)      // NaN cosine floors deterministically to 0
  }

  test("graft_topk_pairs aggregate skips genuinely NaN scores (direct SQL use)") {
    graft.functions.GraftFunctions.register(spark)
    Seq((1L, 0.9), (2L, Double.NaN), (3L, 0.7))
      .toDF("id", "score").createOrReplaceTempView("nan_scores")
    val top = spark.sql("SELECT graft_topk_pairs(score, id, 3) AS t FROM nan_scores")
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(top.map(_.getLong(1)) === Seq(1L, 3L)) // NaN row absent, order kept
  }

  test("knnJoin requires distinct id column names") {
    val e = intercept[IllegalArgumentException] {
      TopK.knnJoin(corpus, "id", "v", corpus, "id", "v", 2)
    }
    assert(e.getMessage.contains("distinct names"))
  }

  test("knnJoin returns k per query, self excluded") {
    val qs = corpus.filter($"id" <= 2).select($"id".as("q_id"), $"v".as("q_v"))
    val r = TopK.knnJoin(qs, "q_id", "q_v", corpus.withColumnRenamed("id", "c_id"), "c_id", "v", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    assert(r.count(_._1 == 1L) === 2)
    assert(!r.exists(t => t._1 == t._2))
    // nearest neighbor of 1 is 2 and vice versa
    assert(r.contains((1L, 2L, 1)))
    assert(r.contains((2L, 1L, 1)))
  }

  // ---- AsOfJoin ----

  test("asOf: latest right row at-or-before each left row, per key") {
    import graft.operators.AsOfJoin
    val trades = Seq((1L, 10L, 100L, 9.0), (1L, 25L, 101L, 9.5), (2L, 3L, 102L, 1.0))
      .toDF("k", "t", "id", "px")
    val quotes = Seq((1L, 10L, 200L, 8.8), (1L, 20L, 201L, 9.2), (2L, 5L, 202L, 0.9))
      .toDF("k", "t", "id", "bid")
    val got = AsOfJoin.asOf(trades, quotes, "k", "t", "t", Seq("t", "bid"), "id")
      .select("k", "t", "asof_t", "asof_bid").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toSet
    assert(got === Set(
      (1L, 10L, 10L, 8.8),  // inclusive: equal timestamp matches
      (1L, 25L, 20L, 9.2),  // latest at-or-before
      (2L, 3L, -1L, -1.0))) // no quote yet -> nulls
  }

  test("asOf: nullable right columns are carried atomically per matched row") {
    import graft.operators.AsOfJoin
    val trades = Seq((1L, 30L, 100L)).toDF("k", "t", "id")
    val quotes = Seq(
      (1L, 10L, 200L, Option(5.0), Option(6.0)),
      (1L, 20L, 201L, Option(7.0), Option.empty[Double]), // latest quote: b is NULL
    ).toDF("k", "t", "id", "a", "b")
    val r = AsOfJoin.asOf(trades, quotes, "k", "t", "t", Seq("a", "b"), "id").head()
    val (a, b) = (r.getAs[Any]("asof_a"), r.getAs[Any]("asof_b"))
    assert(a === 7.0)
    assert(b == null, "asof_b must be the latest row's NULL, not backfilled from an older row")
  }

  test("knnJoin excludeSelf=false keeps id-colliding cross-table neighbors") {
    val qs = corpus.filter($"id" === 1).select($"id".as("q_id"), $"v".as("q_v"))
    val r = TopK.knnJoin(qs, "q_id", "q_v", corpus.withColumnRenamed("id", "c_id"), "c_id", "v",
      k = 1, excludeSelf = false).head()
    assert(r.getLong(1) === 1L) // the identical vector (same id) is now eligible
  }

  // ---- AnnIndex ----

  test("ann buckets are deterministic and ann results are a subset of bucket-mates") {
    val rnd = new scala.util.Random(11)
    val data = (0L until 100L).map(i => (i, Array.fill(8)(rnd.nextGaussian()))).toDF("id", "v")
    val qs = data.filter($"id" < 3).select($"id".as("q_id"), $"v".as("q_v"))
    val r1 = AnnIndex.annTopK(qs, "q_id", "q_v", data.withColumnRenamed("id", "c_id"), "c_id", "v", 3, 4, 8).collect()
    val r2 = AnnIndex.annTopK(qs, "q_id", "q_v", data.withColumnRenamed("id", "c_id"), "c_id", "v", 3, 4, 8).collect()
    assert(r1.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq) // deterministic
    assert(r1.nonEmpty)
    r1.foreach(row => assert(row.getLong(3) <= 3))
  }

  test("semanticDedup drops the higher-id member of each same-cell near-dup pair") {
    // nlist=1 => one global cell => dedup is exact keep-first over all pairs
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 0.0)),
      (2L, Array(1.0, 0.0, 0.0)),   // identical to 1 -> dropped
      (3L, Array(0.0, 1.0, 0.0)),   // orthogonal -> kept
      (4L, Array(0.9, 0.1, 0.0)),   // cosine ~0.99 with 1 -> dropped
    ).toDF("id", "v")
    val kept = AnnIndex.semanticDedup(vecs, "id", "v", threshold = 0.95, nlist = 1)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(1L, 3L))
    // survivors within one cell are pairwise below threshold by construction
    val cells = AnnIndex.semanticDedup(vecs, "id", "v", threshold = 0.95, nlist = 1)
      .select("cell").distinct().count()
    assert(cells === 1L)
  }

  // ---- Decontaminate: Bloom audit ----

  test("bloomAudit: no false negatives, flags agree with the exact join") {
    import graft.operators.Decontaminate
    val bench = Seq((100L, "one two three four five six")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "one two three four five six seven"),            // shares a 5-gram
      (2L, "totally unrelated words in this document here"), // clean
      (3L, "zz one two three four five tail"),               // shares a 5-gram
    ).toDF("doc_id", "text")
    val r = Decontaminate.bloomAudit(corpus, "doc_id", "text", bench, "text", n = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // a Bloom filter can false-positive but never false-negative
    r.values.foreach { case (bloom, exact) => assert(exact <= bloom) }
    assert(r(1L)._2 === 1L && r(1L)._1 === 1L)
    assert(r(3L)._2 === 1L && r(3L)._1 === 1L)
    assert(r(2L)._2 === 0L)
  }

  // ---- Importance (DSIR) ----

  test("importanceWeights: target-domain docs outweigh off-domain docs") {
    import graft.operators.Importance
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "the quick brown fox runs past the lazy dog"),
      (3L, "de", "der schnelle braune fuchs springt ueber den hund"),
      (4L, "en", "the quick brown fox jumps over the lazy dog"),
    ).toDF("doc_id", "lang", "text")
    val w = Importance.importanceWeights(docs, "doc_id", "text",
        isTarget = $"lang" === "en", buckets = 1024)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w.size === 4)
    // English bigrams dominate the target counts => en docs score higher
    assert(w(1L) > w(3L) && w(2L) > w(3L))
    // identical docs get identical weights
    assert(w(1L) === w(4L))
  }

  // ---- Curation.madOutliers ----

  test("madOutliers flags the extreme value and only it; MAD=0 group yields null z") {
    import graft.operators.Curation
    // spread inliers: a constant majority would make MAD itself 0 (the
    // degenerate case the null-z branch handles, tested via group b)
    val rows = Seq(90, 95, 98, 100, 102, 105, 110, 10000).zipWithIndex
      .map { case (v, i) => (i.toLong, "a", v) } ++ Seq((20L, "b", 5), (21L, "b", 5))
    val df = rows.toDF("id", "g", "v")
    val out = Curation.madOutliers(df, "v", "g").collect()
      .map(r => r.getAs[Long]("id") -> (Option(r.getAs[Any]("robust_z")), r.getAs[Long]("is_outlier"))).toMap
    assert(out(7L)._2 === 1L)                         // the 10000 in group a
    (0L to 6L).foreach(i => assert(out(i)._2 === 0L)) // the spread inliers
    assert(out(20L)._1.isEmpty && out(20L)._2 === 0L) // MAD=0 group: null z, not flagged
  }

  // ---- Scd.intervals ----

  test("scd2 intervals: runs collapse, bounds chain, one open row per entity") {
    val ev = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (1L, "2024-01-01 11:00:00", 2L, "a"),   // same state -> same run
      (1L, "2024-01-01 12:00:00", 3L, "b"),   // change
      (1L, "2024-01-01 13:00:00", 4L, "a"),   // change back (new run, not merged)
      (2L, "2024-01-01 09:00:00", 5L, "x"),
    ).toDF("user_id", "ts0", "event_id", "state")
      .withColumn("ts", to_timestamp($"ts0")).drop("ts0")
    val r = graft.operators.Scd.intervals(ev, "user_id", "ts", "event_id", "state")
      .orderBy("user_id", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(r.toSeq === Seq(
      (1L, "a", "2024-01-01 10:00:00", "2024-01-01 12:00:00", 0L),
      (1L, "b", "2024-01-01 12:00:00", "2024-01-01 13:00:00", 0L),
      (1L, "a", "2024-01-01 13:00:00", null, 1L),
      (2L, "x", "2024-01-01 09:00:00", null, 1L)))
  }

  // ---- Sampling.assignSplit ----

  test("assignSplit: disjoint, exhaustive, deterministic, ~80/10/10") {
    import graft.operators.Sampling
    val keys = (0L until 1000L).toDF("id")
    val s1 = Sampling.assignSplit(keys, "id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val s2 = Sampling.assignSplit(keys, "id").collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 === s2)                       // deterministic
    assert(s1.size === 1000)                // exhaustive, one split per key
    val counts = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 150)
    assert(counts("test") > 50 && counts("test") < 150)
  }

  // ---- Dedup.chunkDupStats ----

  test("chunkDupStats: duplicate doc's windows all count as dups, first doc's none") {
    val longText = (1 to 120).map(i => s"w$i").mkString(" ") // 3 windows of 50
    val d = Seq((1L, longText), (2L, longText), (3L, "unique words only here")).toDF("doc_id", "text")
    val r = Dedup.chunkDupStats(d, "doc_id", "text", chunkTokens = 50)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r(1L) === (3L, 0L)) // first occurrence of every window
    assert(r(2L) === (3L, 3L)) // every window already seen in doc 1
    assert(r(3L) === (1L, 0L))
  }

  // ---- Dedup.noveltyScores ----

  test("noveltyScores: first doc fully novel, exact dup fully redundant, short doc absent") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup: zero novelty
      (3L, "totally different words entirely fresh"),
      (4L, "one two")) // < 3 tokens: no trigram shingles
      .toDF("doc_id", "text")
    val r = Dedup.noveltyScores(d, "doc_id", "text", shingleSize = 3)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) === (3L, 3L, 1.0))
    assert(r(2L) === (3L, 0L, 0.0))
    assert(r(3L)._3 === 1.0)
    assert(!r.contains(4L))
  }

  // ---- Dedup.sketchJaccardAudit ----

  test("sketchJaccardAudit: exact dup estimates jac=1 with zero error; est within sketch variance") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"))
      .toDF("doc_id", "text")
    val r = Dedup.sketchJaccardAudit(d, "doc_id", "text", 3, 32, 16)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> (x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    val (est, exact, err) = r((1L, 2L))
    assert(est === 1.0 && exact === 1.0 && err === 0.0)
    // near-dup pair: estimate must be within 4 sketch stddevs (~0.36) of exact
    r.get((1L, 3L)).foreach { case (e2, x2, d2) =>
      assert(d2 <= 0.4, s"estimate $e2 too far from exact $x2")
    }
  }

  // ---- Sampling.shardBalance ----

  test("shardBalance: shards partition the input and skews average to 1") {
    import graft.operators.Sampling
    val df = (0L until 800L).map(i => (i, 100L)).toDF("id", "bytes")
    val r = Sampling.shardBalance(df, "id", "bytes", nShards = 8).collect()
    assert(r.map(_.getLong(0)).toSeq === (0L until 8L))         // every shard occupied
    assert(r.map(_.getLong(1)).sum === 800L)                    // exhaustive
    assert(r.map(_.getLong(2)).sum === 80000L)
    val skews = r.map(_.getDouble(3))
    assert(math.abs(skews.sum / 8 - 1.0) < 0.01)                // shares sum to ~nShards
    assert(skews.forall(s => s > 0.5 && s < 1.5))               // mixing hash is fair
  }

  // ---- Retrieval.bm25 ----

  test("bm25: rare term outranks common term; scores length-normalized and deterministic") {
    import graft.operators.Retrieval
    val d = Seq(
      (1L, "needle common common common"),
      (2L, "common common common common"),
      (3L, "common needle needle filler"),
      (4L, "other words entirely here")).toDF("doc_id", "text")
    val r = Retrieval.bm25(d, "doc_id", "text", Seq("needle", "common"), topK = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    // docs containing the rare term beat the one with only the common term
    assert(r(3L) > r(2L) && r(1L) > r(2L))
    assert(!r.contains(4L)) // no query term -> no row
    // tf saturation: doc 3 has needle×2 and should beat doc 1 (needle×1)
    assert(r(3L) > r(1L))
  }

  // ---- Layout ----

  test("compactionPlan: bins respect partition boundaries and cover every file once") {
    import graft.operators.Layout
    val files = Seq(
      ("a", 1L, 400L), ("a", 2L, 400L), ("a", 3L, 400L),  // offsets 0/400/800: one bin
      ("b", 4L, 2500L),                                   // single oversized file
      ("b", 5L, 100L))
      .toDF("part", "file_id", "bytes")
    val r = Layout.compactionPlan(files, "part", "file_id", "bytes", targetBytes = 1000L)
      .collect().map(x => (x.getString(0), x.getLong(1)) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(("a", 0L)) === (3L, 1200L)) // 0,400,800 all start under 1000
    assert(r(("b", 0L)) === (1L, 2500L)) // oversized file occupies bin 0 alone
    assert(r(("b", 2L)) === (1L, 100L))  // next file starts at offset 2500 -> bin 2
    assert(r.values.map(_._1).sum === 5L)
  }

  test("zValue16 interleaves bits; zorderAudit tightens both spans vs natural") {
    import graft.operators.Layout
    // z(1,0)=1, z(0,1)=2, z(3,3)=15, z(65535,65535)=2^32-1
    val z = Seq((1L, 0L), (0L, 1L), (3L, 3L), (65535L, 65535L)).toDF("x", "y")
      .select(Layout.zValue16($"x", $"y")).collect().map(_.getLong(0)).toSeq
    assert(z === Seq(1L, 2L, 15L, (1L << 32) - 1))
    // a grid where natural key order is x-major: natural blocks span all of y,
    // z-order blocks stay local in both dims
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x * 32 + y, x, y))
      .toDF("k", "x", "y")
    val audit = Layout.zorderAudit(grid, "k", "x", "y", blockRows = 64)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // natural blocks = 2 full x-rows (span 1 × 31); each aligned 64-z run is
    // an 8×8 Morton tile (span 7 × 7): worst-dim span drops 31 -> 7
    assert(audit("natural") === ((1.0, 31.0)))
    assert(audit("zorder") === ((7.0, 7.0)))
  }

  // ---- Cleaning.stripBoilerplate ----

  test("stripBoilerplate deletes shared segments everywhere, keeps order, empties fully-hot docs") {
    import graft.operators.Cleaning
    val footer = "standard footer text here"  // shared 5-token segment... (4 tokens + 1)
    val d = Seq(
      (1L, s"unique alpha words first one $footer extra"),    // footer at segment 1
      (2L, s"other beta content second doc $footer extra"),   // footer at segment 1
      (3L, footer))                                            // only the footer
      .toDF("doc_id", "text")
    // chunks of 5: doc1 = [unique alpha words first one][footer...extra? footer is 4 words + extra]
    val r = Cleaning.stripBoilerplate(d, "doc_id", "text", windowTokens = 5, maxDocs = 1)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getString(3))).toMap
    // segment "standard footer text here extra" occurs in docs 1 and 2 -> hot
    assert(r(1L) === ((2L, 1L, "unique alpha words first one")))
    assert(r(2L) === ((2L, 1L, "other beta content second doc")))
    // doc 3's lone segment "standard footer text here" occurs only in doc 3
    // (docs 1/2 have it fused with "extra") -> kept
    assert(r(3L)._3 === footer)
  }

  test("stripBoilerplate: identical docs above threshold collapse to empty text") {
    import graft.operators.Cleaning
    val t = "one two three four five six seven"
    val d = Seq((1L, t), (2L, t), (3L, t)).toDF("doc_id", "text")
    val r = Cleaning.stripBoilerplate(d, "doc_id", "text", windowTokens = 5, maxDocs = 2)
      .collect().map(x => x.getLong(0) -> x.getString(3)).toMap
    assert(r.values.toSet === Set("")) // every segment in 3 > 2 docs
  }

  // ---- Dedup.dedupDeltaAgainstCorpus ----

  test("dedupDeltaAgainstCorpus: corpus wins regardless of id order; delta keep-first applies") {
    val corpus = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"), // higher id than delta dup
      (101L, "totally unrelated corpus content words here now"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),  // dups corpus 100 (corpus wins)
      (2L, "fresh new delta document with novel token stream"),
      (3L, "fresh new delta document with novel token stream"))// dups earlier delta 2
      .toDF("doc_id", "text")
    val kept = Dedup.dedupDeltaAgainstCorpus(corpus, delta, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept === Seq(2L)) // 1 lost to corpus despite lower id; 3 lost to 2
  }

  // ---- Scd.pitJoin ----

  test("pitJoin: facts attach the version valid at their ts, never a later one; pre-history is null") {
    import graft.operators.Scd
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val status = Seq(
      (1L, ts("2024-01-01 00:00:00"), 1L, "active"),
      (1L, ts("2024-03-01 00:00:00"), 2L, "suspended"),
      (1L, ts("2024-05-01 00:00:00"), 3L, "active"))
      .toDF("user_id", "ts", "event_id", "state")
    val dim = Scd.intervals(status, "user_id", "ts", "event_id", "state")
    val facts = Seq(
      (1L, ts("2023-12-15 00:00:00"), 10L),  // before any interval -> null
      (1L, ts("2024-02-15 00:00:00"), 11L),  // active era
      (1L, ts("2024-03-15 00:00:00"), 12L),  // suspended era
      (1L, ts("2024-06-01 00:00:00"), 13L))  // open current era
      .toDF("user_id", "ts", "event_id")
    val r = Scd.pitJoin(facts, dim, "user_id", "ts")
      .collect().map(x => x.getLong(2) -> Option(x.getString(4))).toMap // event_id -> state
    assert(r(10L) === None)
    assert(r(11L) === Some("active"))
    assert(r(12L) === Some("suspended"))
    assert(r(13L) === Some("active"))
    // multiplicity 1: every fact appears exactly once
    assert(Scd.pitJoin(facts, dim, "user_id", "ts").count() === 4L)
  }

  // ---- Layout.pruningSim ----

  test("pruningSim: zorder blocks prune x-probes the x-major natural order cannot") {
    import graft.operators.Layout
    // y-major natural key: every natural block spans all of x -> zero pruning;
    // zorder tiles are 8x8 -> a probe hits only tiles whose x-range covers it
    val grid = (for (y <- 0L until 32L; x <- 0L until 32L) yield (y * 32 + x, x, y))
      .toDF("k", "x", "y")
    val r = Layout.pruningSim(grid, "k", "x", "y", blockRows = 64, probeMod = 8L)
      .collect().map(row => row.getString(0) -> (row.getLong(1), row.getLong(2), row.getDouble(3))).toMap
    assert(r("natural") === ((16L, 4L, 0.0)))   // no block can be skipped
    val (zb, zp, zskip) = r("zorder")
    assert(zb === 16L && zp === 4L)
    assert(zskip === 0.75)                      // probe hits 4 of 16 column-tiles
  }

  // ---- Anomaly.countZScores ----

  test("countZScores: burst bucket flags, uniform buckets don't, degenerate variance yields null z") {
    import graft.operators.Anomaly
    // 20 buckets of 10 events + one bucket of 300: clear outlier
    val rows = (0L until 20L).flatMap(b => Seq.fill(10)(b)) ++ Seq.fill(300)(20L)
    val r = Anomaly.countZScores(rows.toDF("b"), $"b", zMax = 3.0)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getLong(3))).toMap
    assert(r(20L) === ((300L, 1L)))             // the burst is anomalous
    assert((0L until 20L).forall(b => r(b)._2 === 0L))
    // all-equal counts: variance 0 -> null z, flag 0
    val flat = (0L until 5L).flatMap(b => Seq.fill(7)(b)).toDF("b")
    val fr = Anomaly.countZScores(flat, $"b").collect()
    assert(fr.forall(row => row.isNullAt(2) && row.getLong(3) === 0L))
  }

  // ---- Curation.curriculumPhases ----

  test("curriculumPhases: per-group quartiles are ordered by value and balanced") {
    import graft.operators.Curation
    val d = (0L until 40L).map(i => (i, if (i < 20) "a" else "b", i * 10)).toDF("id", "g", "v")
    val r = Curation.curriculumPhases(d, "id", "v", "g", phases = 4)
      .collect().map(x => (x.getString(1), x.getLong(0)) -> x.getLong(3)).toMap
    // group a: ids 0..19 by value -> 5 per phase
    assert(r(("a", 0L)) === 1L && r(("a", 4L)) === 1L)
    assert(r(("a", 5L)) === 2L && r(("a", 19L)) === 4L)
    // group b judged independently: its smallest value lands in phase 1
    assert(r(("b", 20L)) === 1L)
    val phaseCounts = r.toSeq.groupBy { case ((g, _), p) => (g, p) }.view.mapValues(_.size)
    assert(phaseCounts.values.forall(_ === 5))
  }

  // ---- Importance.mixtureWeights ----

  test("mixtureWeights: sqrt temperature upweights the small domain; weights sum to 1") {
    import graft.operators.Importance
    val d = ((0L until 900L).map(i => (i, "big")) ++ (900L until 1000L).map(i => (i, "small")))
      .toDF("id", "dom")
    val r = Importance.mixtureWeights(d, "dom")
      .collect().map(x => x.getString(0) -> (x.getLong(1), x.getDouble(2), x.getDouble(3), x.getDouble(4))).toMap
    val (nb, shareB, wB, rateB) = r("big")
    val (ns, shareS, wS, rateS) = r("small")
    assert(nb === 900L && ns === 100L)
    assert(math.abs(wB + wS - 1.0) < 1e-5)      // mixture normalizes
    assert(wS > shareS && wB < shareB)          // sqrt pulls toward uniform
    assert(rateS > 1.0 && rateB < 1.0)          // small domain repeats, big downsamples
  }

  // ---- Skew.skewAudit ----

  test("skewAudit: hot key tops the list with ceil(n/median) salt") {
    import graft.operators.Skew
    // 10 keys with 10 rows each + one key with 100 rows: median 10, hot ratio 10
    val rows = (0L until 10L).flatMap(k => Seq.fill(10)(k)) ++ Seq.fill(100)(99L)
    val df = rows.toDF("k")
    val top = Skew.skewAudit(df, $"k", topN = 3).collect()
    assert(top.head.getLong(0) === 99L && top.head.getLong(1) === 100L)
    assert(top.head.getLong(4) === 10L)         // rec_salt = ceil(100/10)
    assert(top(1).getLong(4) === 1L)            // median-sized keys need no salt
  }

  // ---- Curation.funnel ----

  test("funnel: stage counts are monotonically non-increasing and stage order is fixed") {
    import graft.operators.Curation
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val docs = Tables.documents(spark, sfDir)
    val bench  = docs.filter($"doc_id" % 20 === 7)
    val corpus = docs.filter($"doc_id" % 20 =!= 7)
    val funnelDf = Curation.funnel(corpus, "doc_id", "text", bench, "text", "lang")
    // the stage caches that let the five counts share one chain execution
    // must be released before funnel returns (delta-based: earlier tests'
    // localCheckpoint blocks may still await GC)
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persistedBefore),
      "funnel must not leave persisted RDDs behind")
    val f = funnelDf.collect()
    assert(f.map(_.getString(1)).toSeq ===
      Seq("raw", "gated", "deduped", "decontaminated", "sampled"))
    val counts = f.map(_.getLong(2)).toSeq
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a })
    assert(f.head.getDouble(3) === 1.0) // raw retains 100%
    // final stage equals the q57 curate row count
    val curated = Curation.curate(corpus, "doc_id", "text", bench, "text", "lang").count()
    assert(counts.last === curated)
  }

  // ---- Validate ----

  test("validate: violation counts match hand computation across all constraint kinds") {
    import graft.operators.Validate._
    val fact = Seq(
      (1L, 1L, Some("a"), 5.0),   // clean
      (1L, 1L, Some("a"), 5.0),   // duplicate key
      (2L, 1L, None, 5.0),        // null col
      (3L, 1L, Some("z"), 5.0),   // out of set
      (4L, 2L, Some("b"), 99.0),  // out of range + dangling fk (dim has 1)
      (5L, 1L, Some("b"), -1.0))  // out of range (below)
      .toDF("k1", "k2", "s", "v")
    val dim = Seq(1L, 2L, 3L, 5L).toDF("dk") // 4 missing
    val got = validate("t", fact,
        rowChecks = Seq(NotNull("s"), InRange("v", 0, 10), InSet("s", Seq("a", "b"))),
        uniques = Seq(UniqueKey(Seq("k1", "k2"))),
        fks = Seq(ForeignKey("k1", dim, "dk", threshold = 0.2)))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(5)))).toMap
    assert(got("t/not_null:s") === ((1L, 6L, 0.166667, 0L)))
    assert(got("t/range:v") === ((2L, 6L, 0.333333, 0L)))      // 99.0 and -1.0
    assert(got("t/set:s") === ((2L, 6L, 0.333333, 0L)))        // null and "z"
    assert(got("t/unique:k1+k2") === ((1L, 6L, 0.166667, 0L))) // one extra copy
    // 1 dangling row of 6 = 0.166667 <= threshold 0.2 -> passes
    assert(got("t/fk:k1->dk") === ((1L, 6L, 0.166667, 1L)))
  }

  test("validate: UniqueKey counts NULL keys as groups (SELECT DISTINCT semantics)") {
    import graft.operators.Validate._
    // keys: (1,a), (1,a), (NULL,b), (NULL,b), (NULL,c) -> 3 distinct groups,
    // 5 rows -> 2 violations. A null-skipping countDistinct would see only
    // group (1,a) and report 5 - 1 = 4.
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "a"),
      (None, "b"), (None, "b"), (None, "c"))
      .toDF("k", "s")
    val got = validate("t", df, uniques = Seq(UniqueKey(Seq("k", "s"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("t/unique:k+s") === 2L)
  }

  test("driftGate: only the abnormally-moving group flags; uniform growth is not drift") {
    import graft.operators.Validate
    // 10 groups; next doubles EVERY group (uniform -> no drift), except
    // group 7 which grows 20x (drift) — z is over the delta distribution
    val prev = (0 until 10).flatMap(g => Seq.fill(10)(g)).toDF("g")
    val next = (0 until 10).flatMap(g => Seq.fill(if (g == 7) 200 else 20)(g)).toDF("g")
    val got = Validate.driftGate(prev, next, "g", zMax = 2.0)
      .collect().map(r => r.getInt(0) -> r.getLong(5)).toMap
    assert(got(7) === 1L)
    assert((0 until 10).filter(_ != 7).forall(got(_) === 0L))
    // a group vanishing entirely is also drift: its delta is the outlier
    val next2 = (0 until 10).filterNot(_ == 3).flatMap(g => Seq.fill(10)(g)).toDF("g")
    val got2 = Validate.driftGate(prev, next2, "g", zMax = 2.0)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(5))).toList
    assert(got2.find(_._1 == 3).exists(t => t._2 === 0L && t._3 === 1L))
  }

  test("driftHistoryGate: gates the latest delta against the group's OWN history; hand computation") {
    import graft.operators.Validate
    // group a: counts 10,20,30,40,50 — perfectly steady deltas (10,10,10,10)
    //   -> history variance 0 -> z null -> no flag even though the last
    //   delta "grew" (steadiness is not drift).
    // group b: counts 10,20,31,40,5 — history deltas (10,11,9): kh=3,
    //   s1=30, s2=302, var=(3·302−900)/6=1, std=1; last delta −35 ->
    //   z=(−35·3−30)/(3·1)=−45 -> flag.
    val snaps = Seq(
      (10, 10), (20, 20), (30, 31), (40, 40), (50, 5)).map { case (na, nb) =>
      (Seq.fill(na)("a") ++ Seq.fill(nb)("b")).toDF("g")
    }
    val got = Validate.driftHistoryGate(snaps, "g", zMax = 3.0)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)), r.getLong(4)))).toMap
    assert(got("a") === ((50L, 10L, None, 0L)))
    assert(got("b") === ((5L, -35L, Some(-45.0), 1L)))
  }

  // ---- Dedup.exactSubstrSpans ----

  test("exactSubstrSpans: maximal cross-doc spans, exact-length boundary, within-doc repeats don't count") {
    import graft.operators.Dedup
    val sh60 = (0 until 60).map(i => ('a' + (i * 11) % 26).toChar).mkString
    val sh50 = (0 until 50).map(i => ('a' + (i * 17) % 26).toChar).mkString
    val docs = Seq(
      (1L, "A" * 30 + sh60 + "X" * 20),           // shares sh60 with 2 and 6
      (2L, "B" * 25 + sh60 + "Y" * 15),
      (3L, "c" * 100),                            // self-repetitive but cross-doc unique
      (4L, "D" * 10 + sh50 + "Z" * 5),            // shares exactly minLen chars
      (5L, "E" * 12 + sh50),
      (6L, "F" * 5 + sh60 + "G" * 30 + sh50 + "H" * 5), // TWO disjoint spans
      (7L, "shrt"))                               // shorter than a window
      .toDF("doc_id", "text")
    val got = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array(
      (1L, 31L, 60L), (2L, 26L, 60L),
      (4L, 11L, 50L), (5L, 13L, 50L),
      (6L, 6L, 60L), (6L, 96L, 50L)))
  }

  test("anchorSubstrSpans: spans are subsets of the exact spans; long shared runs found") {
    import graft.operators.Dedup
    val shared = (0 until 300).map(i => ('a' + (i * 7) % 26).toChar).mkString
    val docs = Seq(
      (1L, "A" * 31 + shared + "X" * 20),
      (2L, "B" * 47 + shared + "Y" * 15),
      (3L, "c" * 120)) // cross-doc unique -> no spans either way
      .toDF("doc_id", "text")
    val exact = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val anch = Dedup.anchorSubstrSpans(docs, "doc_id", "text", minLen = 50, anchorEvery = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(anch.nonEmpty)
    // soundness: every anchored span sits inside an exact span of its doc
    anch.foreach { case (id, s, l) =>
      assert(exact.exists { case (eid, es, el) => eid == id && s >= es && s + l <= es + el },
        s"anchored span ($id,$s,$l) outside the exact spans ${exact.toSeq}")
    }
    assert(anch.forall(_._1 != 3L))
    // coverage: a 300-char shared run has ~31 anchor candidates at mod 8 —
    // both docs must recover most of it (deterministic for these strings)
    Seq(1L, 2L).foreach { id =>
      val cov = anch.filter(_._1 == id).map(_._3).sum
      assert(cov >= 150, s"doc $id anchored coverage $cov below half the 300-char run")
    }
  }

  // ---- Graph.pageRank ----

  test("pageRank: star-graph hand computation; mass conserved on symmetric graphs") {
    import graft.operators.Graph
    // K1,3 star, symmetrized: hub 0 <-> leaves 1,2,3. n=4, r0=0.25 each.
    // After one iteration: hub = 0.15/4 + 0.85*(3*0.25/1) = 0.675,
    // leaf = 0.15/4 + 0.85*(0.25/3) = 0.108333...
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val edges = pairs.select($"a".as("src"), $"b".as("dst"))
      .unionByName(pairs.select($"b".as("src"), $"a".as("dst")))
    val one = Graph.pageRank(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one(0L) === 0.675)
    Seq(1L, 2L, 3L).foreach(l => assert(one(l) === 0.108333))
    // deeper iterations keep hub > leaves and conserve total mass ≈ 1
    // (symmetric graph, no dangling nodes)
    val three = Graph.pageRank(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(three(0L) > three(1L))
    assert(math.abs(three.values.sum - 1.0) < 1e-4)
  }

  test("pageRankWeighted: weighted contributions + dangling mass redistributed, hand computation") {
    import graft.operators.Graph
    // 1 -(3)-> 2, 1 -(1)-> 3, 2 -(1)-> 3; node 3 is DANGLING. n=3, r0=1/3.
    // wdeg(1)=4, wdeg(2)=1; dangling mass = r(3) = 1/3.
    // r'(1) = 0.15/3 + 0.85*(0      + (1/3)/3) = 0.144444...
    // r'(2) = 0.15/3 + 0.85*(1/3*3/4      + (1/3)/3) = 0.356944...
    // r'(3) = 0.15/3 + 0.85*(1/3*1/4 + 1/3 + (1/3)/3) = 0.498611...
    val edges = Seq((1L, 2L, 3.0), (1L, 3L, 1.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val one = Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(one(1L) === 0.144444)
    assert(one(2L) === 0.356944)
    assert(one(3L) === 0.498611)
    // dangling redistribution conserves total mass ≈ 1 across iterations —
    // exactly what the unguarded unweighted variant would silently leak
    val three = Graph.pageRankWeighted(edges, "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(three.values.sum - 1.0) < 1e-4)
    // and the unweighted variant now refuses dangling graphs loudly
    val ex = intercept[IllegalArgumentException] {
      Graph.pageRank(Seq((1L, 2L)).toDF("src", "dst"), "src", "dst", iters = 1)
    }
    assert(ex.getMessage.contains("pageRankWeighted"))
  }

  // ---- Retrieval.mmrRerank ----

  test("mmrRerank: skips the near-duplicate of the first pick in favor of a diverse hit") {
    import graft.operators.Retrieval
    // query (1,0,0); id 1 = best hit, id 2 = near-duplicate of id 1 (cos ≈
    // 0.99997), id 3 = diverse but still relevant. Pure relevance top-2 is
    // [1, 2]; MMR at λ=0.5 must pick [1, 3].
    val corpus = Seq(
      (1L, Array(0.9, 0.43, 0.0)),
      (2L, Array(0.9, 0.43, 0.01)),
      (3L, Array(0.85, -0.5, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Retrieval.mmrRerank(corpus, "vec_id", "embedding",
        query = Seq(1.0, 0.0, 0.0), shortK = 3, k = 2,
        lambda = 0.5, oneMinusLambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got === Array((1L, 1L), (2L, 3L)))
    // and the pure-relevance order would indeed have been [1, 2]
    val rel = graft.operators.TopK.topK(corpus, "embedding", "vec_id",
        Seq(1.0, 0.0, 0.0), k = 2)
      .collect().map(_.getLong(0))
    assert(rel === Array(1L, 2L))
  }

  // ---- Diff.snapshotDiff ----

  test("snapshotDiff: inserts/deletes/updates with null-safe column comparison") {
    import graft.operators.Diff
    val prev = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0)),
      (3L, Some("c"), None), (4L, Some("d"), Some(4.0)))
      .toDF("k", "s", "v")
    val next = Seq(
      (1L, Some("a"), Some(1.0)),          // unchanged -> dropped
      (2L, Some("B"), Some(2.0)),          // s changed
      (3L, Some("c"), Some(3.0)),          // v: NULL -> 3.0 (null-safe diff)
      (5L, Some("e"), None))               // insert
      .toDF("k", "s", "v")
    val rows = Diff.snapshotDiff(prev, next, Seq("k")).collect()
    val got = rows.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got === Array(
      (2L, "update", "s"),
      (3L, "update", "v"),
      (4L, "delete", ""),
      (5L, "insert", "")))
    // the changelog is applyable: old/new value maps — changed columns only
    // for updates (NULL values kept: key present, value null), full row for
    // inserts/deletes
    val byKey = rows.map(r => r.getLong(0) ->
      (r.getAs[Map[String, String]]("old_vals"), r.getAs[Map[String, String]]("new_vals"))).toMap
    assert(byKey(2L) === ((Map("s" -> "b"), Map("s" -> "B"))))
    assert(byKey(3L) === ((Map("v" -> null), Map("v" -> "3.0"))))
    assert(byKey(4L) === ((Map("s" -> "d", "v" -> "4.0"), Map.empty)))
    assert(byKey(5L) === ((Map.empty, Map("s" -> "e", "v" -> null))))
  }

  test("snapshotDiff: NULL-keyed rows classify as one insert + one delete (presence markers)") {
    import graft.operators.Diff
    // a NULL key never equi-joins: the same row on both sides must surface
    // as one 'insert' AND one 'delete' — not two inserts (the old
    // key-nullability inference misread the prev-only side)
    val prev = Seq((Some(1L), "a"), (None, "z")).toDF("k", "s")
    val next = Seq((Some(1L), "a"), (None, "z")).toDF("k", "s")
    val got = Diff.snapshotDiff(prev, next, Seq("k"))
      .collect().map(r => (if (r.isNullAt(0)) -1L else r.getLong(0), r.getString(1)))
    assert(got.toSet === Set((-1L, "insert"), (-1L, "delete")))
  }

  test("applyDiff: replaying the changelog onto prev reproduces next exactly") {
    import graft.operators.Diff
    val prev = Seq(
      (1L, Some("a"), Some(1.0)), (2L, Some("b"), Some(2.0)),
      (3L, Some("c"), None), (4L, Some("d"), Some(4.0)),
      (6L, Some("f"), Some(0.1)))
      .toDF("k", "s", "v")
    val next = Seq(
      (1L, Some("a"), Some(1.0)),          // unchanged
      (2L, Some("B"), Some(2.0)),          // update
      (3L, Some("c"), Some(3.0)),          // NULL -> value update
      (5L, Some("e"), None),               // insert with a NULL value
      (6L, Some("f"), None))               // value -> NULL update
      .toDF("k", "s", "v")
    val d = Diff.snapshotDiff(prev, next, Seq("k"))
    val applied = Diff.applyDiff(prev, d, Seq("k"))
    assert(applied.collect().map(_.toSeq).toSet === next.collect().map(_.toSeq).toSet)
    // same columns and types (nullability may widen through the outer join)
    assert(applied.schema.map(f => (f.name, f.dataType)) ===
      next.schema.map(f => (f.name, f.dataType)))
  }

  // ---- Incremental ----

  test("incremental agg maintenance: any merge shape equals the full recompute") {
    import graft.operators.Incremental._
    val rows = (1L to 100L).map(i => (s"k${i % 3}", i, i * 7 % 13)).toDF("k", "a", "b")
    val full = aggState(rows, Seq("k"), Seq("a", "b"))
      .collect().map(_.toSeq).toSet
    val parts = Seq($"a" % 4 === 0, $"a" % 4 === 1, $"a" % 4 === 2, $"a" % 4 === 3)
      .map(p => rows.filter(p))
    // sequential fold
    val folded = parts.tail.foldLeft(aggState(parts.head, Seq("k"), Seq("a", "b")))(
      (st, d) => applyDelta(st, d, Seq("k"), Seq("a", "b")))
    assert(folded.collect().map(_.toSeq).toSet === full)
    // hierarchical merge in a different order (monoid: shape must not matter)
    val states = parts.map(aggState(_, Seq("k"), Seq("a", "b")))
    val tree = merge(merge(states(3), states(1), Seq("k"), Seq("a", "b")),
      merge(states(0), states(2), Seq("k"), Seq("a", "b")), Seq("k"), Seq("a", "b"))
    assert(tree.collect().map(_.toSeq).toSet === full)
  }

  test("ivfAssign: standing + delta assignment equals the full rebuild (stable centroids)") {
    import graft.operators.AnnIndex
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toDouble)))
      .toDF("vec_id", "embedding")
    val corpus = vecs.filter($"vec_id" < 30)
    val delta  = vecs.filter($"vec_id" >= 30)
    val incremental = AnnIndex.ivfAssign(corpus, corpus, "vec_id", "embedding", nlist = 8)
      .unionByName(AnnIndex.ivfAssign(delta, corpus, "vec_id", "embedding", nlist = 8))
    val full = AnnIndex.ivfAssign(vecs, vecs, "vec_id", "embedding", nlist = 8)
    assert(incremental.collect().map(_.toSeq).toSet === full.collect().map(_.toSeq).toSet)
    assert(full.count() === 40L)
  }

  // ---- AnnIndex.pqTopK ----

  test("pqTopK: archetype corpus reconstructs exactly — own copies rank first at distance 0") {
    import graft.operators.AnnIndex
    // 4 archetype vectors, each repeated 5×: the 4 lowest-id rows ARE the
    // archetypes, so the ksub=4 codebook quantizes every corpus row exactly
    // and the reconstructed distance to its own archetype query is 0.0
    val arch = Seq(
      Array(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 2.0, 0.0),
      Array(0.0, 0.0, 3.0, 0.0, 1.0, 0.0, 0.0, 0.0),
      Array(0.0, 0.0, 0.0, 4.0, 0.0, 0.0, 0.0, 5.0))
    val corpus  = (0 until 20).map(i => (i.toLong, arch(i % 4))).toDF("c_id", "v")
    val queries = (0 until 4).map(i => (100L + i, arch(i))).toDF("q_id", "qv")
    def check(cb: Option[Array[Array[Seq[Double]]]]): Unit = {
      val top = AnnIndex.pqTopK(queries, "q_id", "qv", corpus, "c_id", "v",
          k = 5, m = 2, ksub = 4, dim = 8, nlist = 2, nprobe = 2,
          excludeSelf = false, codebooks = cb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(top.length === 20) // 4 queries × k=5
      top.foreach { case (q, c, score) =>
        assert(c % 4 === q - 100, s"query $q matched foreign archetype copy $c")
        assert(score === 0.0, s"exactly-representable vector reconstructed at $score")
      }
    }
    check(None) // lowest-id codebooks
    // trained path: one Lloyd iteration over identical copies converges to
    // the archetype slices — same exact reconstruction through the k-means
    // machinery the production call sites use
    val trained = AnnIndex.pqTrainCodebooks(corpus, "c_id", "v",
      m = 2, ksub = 4, dim = 8, iters = 1)
    check(Some(trained))
    // the one-pass trainer is arithmetic-identical to per-subspace k-means
    val perSubspace = Array.tabulate(2) { j =>
      AnnIndex.kmeansCentroids(
        corpus.select(col("c_id"), slice(col("v"), j * 4 + 1, 4).as("sub")),
        "sub", "c_id", k = 4, iters = 1).map(_.toSeq)
    }
    assert(trained.map(_.toSeq).toSeq === perSubspace.map(_.toSeq).toSeq)
  }

  test("pqResidualTopK: residual codes recover recall raw codes lose on a clustered corpus") {
    import graft.operators.AnnIndex
    // 4 tight clusters around far-apart centers: raw PQ must spend its
    // 4-entry-per-subspace budget spanning the centers, residual PQ only
    // has to cover the within-cluster offsets. Interleaved ids put one
    // cluster member in each of the 4 lowest ids (the coarse centroids).
    val centers = Seq(
      Seq(100.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 100.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 100.0, 0.0, 0.0, 0.0, 0.0, 0.0),
      Seq(0.0, 0.0, 0.0, 100.0, 0.0, 0.0, 0.0, 0.0))
    val rows = (0 until 48).map { i =>
      val c = centers(i % 4)
      val off = (0 until 8).map(d => ((i * 31 + d * 7) % 11) * 0.3)
      (i.toLong, c.zip(off).map { case (a, b) => a + b })
    }
    val corpus = rows.toDF("c_id", "v")
    val queries = rows.take(8).map { case (i, v) => (i, v) }.toDF("q_id", "qv")
    def recallOf(top: org.apache.spark.sql.DataFrame): Double = {
      val got = top.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact squared-L2 top-3 per query (self excluded), ties by id
      val exact = rows.take(8).flatMap { case (qi, qv) =>
        rows.filter(_._1 != qi)
          .map { case (ci, cv) => (ci, qv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum) }
          .sortBy { case (ci, d) => (d, ci) }.take(3).map { case (ci, _) => (qi, ci) }
      }.toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val raw = AnnIndex.pqTopK(queries, "q_id", "qv", corpus, "c_id", "v",
      k = 3, m = 4, ksub = 4, dim = 8, nlist = 4, nprobe = 1,
      codebooks = Some(AnnIndex.pqTrainCodebooks(corpus, "c_id", "v",
        m = 4, ksub = 4, dim = 8, iters = 2)))
    val res = AnnIndex.pqResidualTopK(queries, "q_id", "qv", corpus, "c_id", "v",
      k = 3, m = 4, ksub = 4, dim = 8, nlist = 4, nprobe = 1,
      codebooks = Some(AnnIndex.pqTrainCodebooks(
        AnnIndex.pqResidualCorpus(corpus, "c_id", "v", nlist = 4),
        "c_id", "__resid", m = 4, ksub = 4, dim = 8, iters = 2)))
    val (rRaw, rRes) = (recallOf(raw), recallOf(res))
    assert(rRes > rRaw, s"residual recall $rRes should beat raw $rRaw on clustered data")
    assert(rRes >= 0.5, s"residual recall $rRes unexpectedly low")
  }

  test("histogramQuantiles: bin counts are a monoid; estimates stay within one bin of exact") {
    import graft.operators.Sketches
    val a = (1 to 50).map(_.toDouble).toDF("v")
    val b = (51 to 100).map(_.toDouble).toDF("v")
    def counts(df: org.apache.spark.sql.DataFrame) =
      Sketches.histogramCounts(df, "v", lo = 0.0, hi = 100.0, bins = 100)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merge = pointwise sum of partial histograms (the property that makes
    // the sketch shard/stream-safe)
    val merged = (counts(a).keySet ++ counts(b).keySet).map { k =>
      k -> (counts(a).getOrElse(k, 0L) + counts(b).getOrElse(k, 0L))
    }.toMap
    assert(merged === counts(a.unionByName(b)))
    // uniform 1..100: the q=0.5 estimate lands within one bin of the exact
    // rank-50 value, and the arithmetic is deterministic
    val est = Sketches.histogramQuantiles(a.unionByName(b), "v",
        lo = 0.0, hi = 100.0, bins = 100, qs = Seq(0.5, 0.99))
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    assert(math.abs(est(0.5) - 50.0) <= 1.0 + 1e-9)
    assert(math.abs(est(0.99) - 99.0) <= 1.0 + 1e-9)
    // NULL and NaN rows are excluded, not bucketed into bin 0 (review find:
    // Spark's greatest/least skip null arguments, so an unguarded clamp
    // sent every NULL to the smallest bin and dragged percentiles to lo)
    val withNulls = (Seq.fill(50)(Option.empty[Double]) ++
      Seq(Some(Double.NaN)) ++ (60 to 99).map(v => Some(v.toDouble))).toDF("v")
    val estN = Sketches.histogramQuantiles(withNulls, "v",
        lo = 0.0, hi = 100.0, bins = 100, qs = Seq(0.5))
      .collect().map(r => (r.getDouble(1), r.getLong(2))).head
    assert(estN._2 === 40L) // only the 40 real values count
    assert(estN._1 >= 60.0 && estN._1 <= 100.0)
  }

  test("psiGate: identical distributions score ~0; a shifted one flags; count-invariant") {
    import graft.operators.Validate
    val base = (1 to 1000).map(i => (i % 100).toDouble).toDF("v")
    // identical snapshot: PSI exactly 0
    val same = Validate.psiGate(base, base, "v", 0.0, 100.0, 10).head()
    assert(same.getAs[Double]("psi") === 0.0)
    assert(same.getAs[Long]("is_drift") === 0L)
    // every value moved up by 50 (mod wrap): gross shift must flag
    val shifted = base.select((col("v") + 50.0).as("v"))
    val hit = Validate.psiGate(base, shifted, "v", 0.0, 160.0, 16).head()
    assert(hit.getAs[Long]("is_drift") === 1L, s"psi=${hit.getAs[Double]("psi")}")
    // dropping every other ROW (same distribution, half the count) must
    // not flag — PSI is count-invariant
    val quiet2 = Validate.psiGate(base,
      (1 to 1000).filter(_ % 2 == 0).map(i => (i % 100).toDouble).toDF("v"),
      "v", 0.0, 100.0, 10).head()
    assert(quiet2.getAs[Long]("is_drift") === 0L, s"psi=${quiet2.getAs[Double]("psi")}")
  }

  // ---- Contrastive.minePairs ----

  test("minePairs: nearest vector ranks pos#1, negatives exclude positives, zero-norm excluded") {
    import graft.operators.Contrastive
    val d = Seq(
      (0L, Array(1.0f, 0.0f)),      // anchor (0 % 4 == 0)
      (1L, Array(0.9f, 0.1f)),      // nearest
      (2L, Array(0.0f, 1.0f)),      // orthogonal
      (3L, Array(-1.0f, 0.0f)),     // opposite
      (5L, Array(0.0f, 0.0f)))      // zero-norm: excluded everywhere
      .toDF("vec_id", "embedding")
    val r = Contrastive.minePairs(d, "vec_id", "embedding", anchorMod = 4L, kPos = 1, kNeg = 2)
      .collect().map(x => (x.getString(2), x.getLong(3)) -> x.getLong(1)).toMap
    assert(r(("pos", 1L)) === 1L)                   // cosine-nearest is the positive
    val negs = r.collect { case (("neg", _), id) => id }.toSet
    assert(negs.subsetOf(Set(2L, 3L)))              // not the positive, not the anchor
    assert(negs.size === 2)
    assert(!r.values.toSet.contains(5L))            // zero-norm never mined
  }

  // ---- Sampling.splitDrift ----

  test("splitDrift: identical distributions give zero TV; disjoint vocabularies give TV=1") {
    import graft.operators.Sampling
    // every doc has the same text -> all splits have identical unigram dists
    val same = (0L until 300L).map(i => (i, "x y z")).toDF("doc_id", "text")
    val r = Sampling.splitDrift(same, "doc_id", "text")
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getDouble(3)).toMap
    assert(r.size === 3)
    assert(r.values.forall(_ === 0.0))
    // three rows, fixed pair order
    assert(r.keySet === Set(("train", "val"), ("train", "test"), ("val", "test")))
  }

  // ---- Sketches.hllDistinct ----

  test("HLL: high-cardinality keys land within the ~1.04/sqrt(m) error envelope") {
    import graft.operators.Sketches
    val df = spark.range(0, 20000).toDF("k")
    val row = Sketches.hllDistinct(df, "k", p = 9).head
    assert(row.getAs[Long]("exact_distinct") === 20000L)
    // 3 standard errors at m=512 is ~14%
    assert(row.getAs[Double]("rel_err") < 0.14,
      s"rel_err ${row.getAs[Double]("rel_err")} outside envelope")
  }

  test("HLL: low cardinality takes the linear-counting branch and is near-exact") {
    import graft.operators.Sketches
    val df = spark.range(0, 75).toDF("k")
    val row = Sketches.hllDistinct(df, "k", p = 9).head
    assert(row.getAs[Long]("exact_distinct") === 75L)
    assert(row.getAs[Long]("v_zero") > 0)
    // linear counting at n << m is typically exact to a couple of counts
    assert(row.getAs[Double]("rel_err") < 0.05)
    // correction actually fired: corrected estimate differs from the raw one
    assert(row.getAs[Double]("est_distinct") !== row.getAs[Double]("raw_est"))
  }

  test("HLL: duplicates do not move the estimate (distinct semantics)") {
    import graft.operators.Sketches
    val once  = Sketches.hllDistinct(spark.range(0, 500).toDF("k"), "k").head
    val thrice = Sketches.hllDistinct(
      spark.range(0, 500).union(spark.range(0, 500)).union(spark.range(0, 500)).toDF("k"), "k").head
    assert(once.getAs[Double]("est_distinct") === thrice.getAs[Double]("est_distinct"))
  }

  // ---- LanguageModel.collocations ----

  test("collocations: an always-adjacent pair outranks independent pairs") {
    import graft.operators.LanguageModel
    // "new york" always adjacent; "the" pairs with everything (low PMI)
    val docs = (0L until 20L).map { i =>
      (i, s"the new york times the a$i report the b$i story new york")
    }.toDF("doc_id", "text")
    val got = LanguageModel.collocations(docs, "text", minCount = 5, topK = 5)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(3)))
    assert(got.nonEmpty)
    // (york, times) is the strongest collocation: 'york' predicts 'times'
    // perfectly AND both marginals are minimal — PMI rewards the rarer
    // perfectly-predictive pair over the twice-as-frequent (new, york)
    assert(got.head._1 === "york" && got.head._2 === "times",
      s"expected (york, times) on top, got ${got.head}")
    val pmiOf = got.map(g => (g._1, g._2) -> g._3).toMap
    assert(pmiOf.contains(("new", "york")))
    // pairs involving the near-uniform 'the' never beat the collocations
    // (several pairs tie at ln(5.5) exactly in this fixture, hence <=)
    val thePmis = got.collect { case (w1, w2, p) if w1 == "the" || w2 == "the" => p }
    assert(thePmis.forall(_ <= pmiOf(("new", "york"))))
    assert(thePmis.forall(_ < got.head._3))
  }

  test("collocations: pairs below minCount are filtered") {
    import graft.operators.LanguageModel
    val docs = Seq((1L, "rare pair common common common common common pair")).toDF("doc_id", "text")
    val got = LanguageModel.collocations(docs, "text", minCount = 4, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(!got.contains(("rare", "pair")))
    assert(got.contains(("common", "common"))) // 4 adjacent repeats survive
  }

  // ---- Retrieval.rrfFuse ----

  test("rrfFuse: hand-computed fusion, including an id present in only one list") {
    import graft.operators.Retrieval
    val a = Seq((10L, 1), (20L, 2), (30L, 3)).toDF("id", "rank")
    val b = Seq((20L, 1), (10L, 2)).toDF("id", "rank")
    val got = Retrieval.rrfFuse(Seq("a" -> a, "b" -> b), "id", kRrf = 60, topK = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("rrf")).toMap
    def t(r: Int) = 1.0 / (60.0 + r)
    def fr6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(got(10L) === fr6(t(1) + t(2)))
    assert(got(20L) === fr6(t(2) + t(1)))
    assert(got(30L) === fr6(t(3) + 0.0)) // absent from b: contributes 0, still surfaces
    // symmetric ranks fuse to the same score; full-outer keeps all ids
    assert(got(10L) === got(20L) && got.size === 3)
  }

  // ---- Profile.histogram ----

  test("histogram: bins partition the range; edge values land deterministically") {
    import graft.operators.Profile
    val df = Seq(("a", 0.0), ("a", 5.0), ("a", 10.0), ("b", 10.0), ("b", 2.5))
      .toDF("k", "v")
    val got = Profile.histogram(df, "k", "v", nBins = 4)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(3)).toMap
    // range [0,10], width 2.5: 0.0->bin0, 2.5->bin1, 5.0->bin2, 10.0->top fold bin3
    assert(got === Map(("a", 0L) -> 1L, ("a", 2L) -> 1L, ("a", 3L) -> 1L,
      ("b", 1L) -> 1L, ("b", 3L) -> 1L))
  }

  test("histogram: degenerate single-value input goes to bin 0, no div-by-zero") {
    import graft.operators.Profile
    val df = Seq(("a", 7.0), ("b", 7.0), ("a", 7.0)).toDF("k", "v")
    val got = Profile.histogram(df, "k", "v", nBins = 8)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
    assert(got.toSet === Set(("a", 0L, 2L), ("b", 0L, 1L)))
  }

  // ---- Cleaning.eraseUsers ----

  test("eraseUsers: per-table audit counts; duplicate requests don't double-count") {
    import graft.operators.Cleaning
    val events = Seq((1L, "x"), (1L, "y"), (2L, "x"), (3L, "z")).toDF("user_id", "e")
    val profiles = events.groupBy("user_id").agg(count(lit(1)).as("n"))
    // user 1 requested twice, user 9 has no rows anywhere
    val requests = Seq(1L, 1L, 9L).toDF("user_id")
    val got = Cleaning.eraseUsers(requests, "user_id",
        Seq("events" -> (events, "user_id"), "user_profiles" -> (profiles, "user_id")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("events") === ((4L, 2L, 2L, 1L)))        // both rows of user 1
    assert(got("user_profiles") === ((3L, 1L, 2L, 1L))) // one profile row
  }

  // ---- Dedup.prefixJaccardJoin ----

  test("prefixJaccardJoin: identical pairs to the brute-force join (recall 1, no extras)") {
    import graft.operators.Dedup
    // near-dup family (shared shingles), an unrelated doc, a short doc
    val docs = (
      (0L until 10L).map(i => (i, s"alpha beta gamma delta epsilon zeta token$i end")) ++
      Seq((20L, "totally different words with no overlap at all here"),
          (21L, "alpha beta gamma delta epsilon zeta shared end"),
          (22L, "xy zz"))
    ).toDF("doc_id", "text")
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = collectPairs(Dedup.jaccardPairsExact(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.4))
    val pref = collectPairs(Dedup.prefixJaccardJoin(docs, "doc_id", "text",
      shingleSize = 3, threshold = 0.4))
    assert(brute.nonEmpty)           // the fixture genuinely has near-dups
    assert(pref === brute)           // exact same pairs AND scores
  }

  // ---- Sampling.tokenBudgetMix ----

  test("tokenBudgetMix: budget never exceeded, monotone in budget, deterministic") {
    import graft.operators.Sampling
    val docs = (0L until 100L).map(i => (s"d${i % 4}", i, 40L + (i % 7) * 8L))
      .toDF("source", "doc_id", "n_chars")
    def run(b: Long) = Sampling.tokenBudgetMix(docs, "source", "doc_id", "n_chars", b)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val small = run(60L)
    val big   = run(200L)
    assert(small.values.forall(_._2 <= 60L))   // hard budget per domain
    assert(big.values.forall(_._2 <= 200L))
    small.keys.foreach { d =>                  // more budget -> superset selection
      assert(big(d)._1 >= small(d)._1 && big(d)._2 >= small(d)._2)
    }
    assert(run(60L) === small)                 // rerun identical
  }

  test("tokenBudgetMix: a domain whose first doc busts the budget still appears, zero-filled") {
    import graft.operators.Sampling
    val docs = Seq(
      ("small", 1L, 40L), ("small", 2L, 40L),
      ("huge", 3L, 9000L), ("huge", 4L, 9000L) // every doc > budget
    ).toDF("source", "doc_id", "n_chars")
    val got = Sampling.tokenBudgetMix(docs, "source", "doc_id", "n_chars", 100L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    assert(got.keySet === Set("small", "huge")) // the busted domain is NOT silently dropped
    assert(got("huge") === ((0L, 0L, 0.0)))
    assert(got("small")._2 === 20L)             // both 10-token docs fit
  }

  test("HLL: keys congruent mod P do not collapse; NULL keys are excluded from sketch and audit") {
    import graft.operators.Sketches
    val P = 1000000007L
    // 400 keys in [0,200) ∪ [P, P+200): congruent pairs mod P — a single-prime
    // hash would see only 200 distinct registerable values
    val congruent = spark.range(0, 200).toDF("k")
      .union(spark.range(0, 200).select((col("id") + P).as("k")))
    val row = Sketches.hllDistinct(congruent, "k").head
    assert(row.getAs[Long]("exact_distinct") === 400L)
    assert(row.getAs[Double]("est_distinct") > 300.0) // far above the 200 a collapse would give
    val withNulls = Seq[java.lang.Long](1L, 2L, null, 3L, null).toDF("k")
    val r2 = Sketches.hllDistinct(withNulls, "k").head
    assert(r2.getAs[Long]("exact_distinct") === 3L) // NULL is not a value
  }

  // ---- Scd.cdcSnapshot ----

  test("cdcSnapshot: latest op wins; a trailing delete removes the key; re-insert after delete survives") {
    import graft.operators.Scd
    val log = Seq(
      (1L, 10L, "U", 1.0), (1L, 20L, "U", 2.0),              // updates: keep latest
      (2L, 10L, "U", 5.0), (2L, 30L, "D", 0.0),              // trailing delete: gone
      (3L, 10L, "D", 0.0), (3L, 40L, "U", 7.0),              // re-insert after delete
      (4L, 50L, "D", 0.0)                                    // only a delete: gone
    ).toDF("k", "seq", "op", "v")
    val got = Scd.cdcSnapshot(log, "k", Seq(col("seq")), col("op") === "D")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(got === Map(1L -> ((20L, 2.0)), 3L -> ((40L, 7.0))))
  }

  // ---- Dedup.clusterRepresentatives ----

  test("clusterRepresentatives: max-weight wins, min-id breaks ties, sizes audited") {
    import graft.operators.Dedup
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)).toDF("id", "cluster")
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 30L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "n_chars")
    val got = Dedup.clusterRepresentatives(labels, docs, "doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((2L, 30L, 3L))) // 2 and 3 tie on weight -> min id 2
    assert(got(7L) === ((7L, 5L, 2L)))
    assert(got.size === 2)
  }

  // ---- SuffixRank.longestDupPrefix ----

  test("longestDupPrefix: matches brute force on crafted repeats (unbounded lengths)") {
    import graft.operators.SuffixRank
    // repeats of several lengths, within AND across docs, incl. a full-doc copy
    val docs = Seq(
      (0L, "abcdefgh_abcdefgh_xy"),
      (1L, "zz_abcdefgh_qq"),
      (2L, "zz_abcdefgh_qq"), // identical to doc 1 — full-suffix matches
      (3L, "unique-text-here")
    ).toDF("doc_id", "t")
    val got = SuffixRank.longestDupPrefix(spark, docs, "doc_id", "t", minLen = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over every position pair
    val texts = Map(0L -> "abcdefgh_abcdefgh_xy", 1L -> "zz_abcdefgh_qq",
      2L -> "zz_abcdefgh_qq", 3L -> "unique-text-here")
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
    val want = (for {
      (da, ta) <- texts.toSeq; pa <- 0 until ta.length
    } yield {
      val best = (for {
        (db, tb) <- texts.toSeq; pb <- 0 until tb.length
        if (da, pa) != (db, pb)
      } yield lcp(ta.substring(pa), tb.substring(pb))).max
      (da, pa.toLong) -> best
    }).filter(_._2 >= 3).toMap
    assert(got === want)
  }

  test("maximalRepeats: matches the textbook definition brute-forced on crafted docs") {
    import graft.operators.SuffixRank
    // nested repeats ("abcab" contains repeat "ab"), cross-doc repeats, a
    // full-doc copy (doc-boundary sentinels on both sides), and a repeat
    // whose every occurrence shares a left context (NOT left-maximal)
    val texts = Map(
      0L -> "abcabxabcaby",
      1L -> "zzabcabzz",
      2L -> "zzabcabzz",
      3L -> "qqqqq",
      4L -> "w_samepre_1_samepre_2")
    val docs = texts.toSeq.toDF("doc_id", "t")
    val minLen = 2
    val got = SuffixRank.maximalRepeats(spark, docs, "doc_id", "t", minLen)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // brute force: every substring, occurrence counts, and the left/right
    // extension test with per-occurrence boundary sentinels
    val occs = for {
      (d, t) <- texts.toSeq; len <- minLen to t.length; p <- 0 to t.length - len
    } yield (t.substring(p, p + len), d, p, len)
    val want = occs.groupBy(_._1).toSeq.flatMap { case (s, os) =>
      val prevs = os.map { case (_, d, p, _) => if (p == 0) s"^$d" else texts(d).charAt(p - 1).toString }
      val nexts = os.map { case (_, d, p, len) =>
        if (p + len == texts(d).length) s"$$$d:$p" else texts(d).charAt(p + len).toString }
      if (os.size >= 2 && prevs.distinct.size >= 2 && nexts.distinct.size >= 2)
        Some((s, s.length.toLong, os.size.toLong, os.map(_._2).distinct.size.toLong))
      else None
    }.sortBy(_._1)
    assert(got.toSeq === want)
    // sanity on the fixture's intent: "abcab" and "ab" both survive (nested
    // maximal repeats), "samepre_" does not (all occurrences follow "_")
    assert(want.exists(_._1 == "abcab") && want.exists(_._1 == "ab"))
    assert(want.exists(_._1 == "_samepre_")) // boundary-extended form survives
    assert(!want.exists(_._1 == "samepre")) // bare form: every prev is '_'
  }

  test("crossCorpusOverlap: matches cross-side brute force, ignores within-side dups") {
    import graft.operators.SuffixRank
    // train carries a benchmark answer; test doc 10 quotes a 16-char span of
    // it, test doc 11 only shares short incidental fragments PLUS a long
    // span duplicated WITHIN test (must NOT count — only train matches do).
    // Overlapping ids across corpora (10 appears in both) exercise the
    // side-disjoint id interleaving.
    val train = Seq(
      (10L, "the_answer_is_42_obviously"),
      (11L, "pack_my_box_with_jugs")
    ).toDF("doc_id", "t")
    val test = Seq(
      (10L, "xx_the_answer_is_42_yy"),
      (11L, "same_long_span_here+same_long_span_here")
    ).toDF("doc_id", "t")
    val got = SuffixRank.crossCorpusOverlap(spark, train, test, "doc_id", "t", minLen = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val trainT = Map(10L -> "the_answer_is_42_obviously", 11L -> "pack_my_box_with_jugs")
    val testT = Map(10L -> "xx_the_answer_is_42_yy", 11L -> "same_long_span_here+same_long_span_here")
    def lcp(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
    val want = (for {
      (da, ta) <- testT.toSeq; pa <- 0 until ta.length
    } yield {
      val best = (for {
        (_, tb) <- trainT.toSeq; pb <- 0 until tb.length
      } yield lcp(ta.substring(pa), tb.substring(pb))).max
      (da, pa.toLong) -> best
    }).filter(_._2 >= 4).toMap
    assert(got === want)
    // the quoted span is found at full length; the within-test duplicate is not
    assert(got((10L, 3L)) === 17L) // "the_answer_is_42_" (train continues "obv", test "yy")
    assert(!got.contains((11L, 0L)) || got((11L, 0L)) < 15L)
  }

  test("takeQuota consumes a temperatureMix allocation; small source under-fills honestly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 60L).map(i => (i, if (i < 50) "big" else "small"))
      .toDF("doc_id", "source")
    // hand allocation: 'small' is over-allocated (quota 15 > its 10 docs)
    val quotas = Seq(("big", 20L), ("small", 15L)).toDF("source", "quota")
    val sel = graft.operators.Sampling.takeQuota(docs, "doc_id", "source", quotas)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val bySrc = sel.groupBy(_._1).view.mapValues(_.size).toMap
    assert(bySrc("big") === 20, "quota-sized selection from a large source")
    assert(bySrc("small") === 10, "small source under-fills to its own size, never invents docs")
    // deterministic: re-running selects the same ids in the same ranks
    val again = graft.operators.Sampling.takeQuota(docs, "doc_id", "source", quotas)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again.toSet === sel.toSet)
    // ranks are 1..k per source with no gaps below the cut
    assert(sel.filter(_._1 == "big").map(_._3).sorted === (1L to 20L))
    // empty allocation fails loudly
    assertThrows[IllegalArgumentException] {
      graft.operators.Sampling.takeQuota(docs, "doc_id", "source",
        Seq.empty[(String, Long)].toDF("source", "quota")).collect()
    }
  }

  test("verdictFusion: per-axis flags, precedence-attributed reason, funnel sums") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      0L -> base,
      1L -> base,                                    // exact copy → reason 'exact'
      2L -> base.replace("kilo", "zulu"),            // light edit → set-similarity axes
      3L -> (base + " " + "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee " * 3), // contains doc 0 → containment
      4L -> "completely different text with no shared vocabulary whatsoever anywhere at all thanks").toDF("doc_id", "text")
    val v = graft.operators.Dedup.verdictFusion(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16,
      jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6))).toMap
    // doc 0: keep-first protects the lowest id on every axis
    assert(v(0L) === ((0L, 0L, 0L, 0L, 0L, "keep")))
    // doc 1: exact copy — every axis flags it, precedence attributes 'exact'
    assert(v(1L)._1 === 1L && v(1L)._6 === "exact" && v(1L)._5 === 1L)
    // doc 2: not byte-identical; near-dup axes fire, 'containment' outranks
    assert(v(2L)._1 === 0L && v(2L)._5 === 1L &&
      (v(2L)._6 === "containment" || v(2L)._6 === "jaccard"))
    // doc 3: doc 0 embedded in a longer doc — containment catches what
    // symmetric Jaccard cannot
    assert(v(3L)._2 === 1L && v(3L)._3 === 0L && v(3L)._6 === "containment")
    // doc 4: unrelated — clean on every axis
    assert(v(4L) === ((0L, 0L, 0L, 0L, 0L, "keep")))
    // funnel: attributed counts sum to total drops; final survivors = keeps
    val f = graft.operators.Dedup.verdictFunnel(
      graft.operators.Dedup.verdictFusion(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16,
        jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8), "doc_id")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val drops = v.values.count(_._5 == 1L).toLong
    assert(f.map(_._3).sum === drops, "attributed counts must sum to total drops")
    assert(f.last._4 === v.size - drops, "final survivors must equal keeps")
    assert(f.forall(_._5 === v.size.toLong))
    assert(f.map(_._1) === Seq("exact", "containment", "jaccard", "simhash"))
  }

  test("crossModalVerdict: semantic axis catches token reorder the shingle axes miss") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      0L -> base,
      1L -> base,                                      // exact copy → 'exact'
      2L -> base.split(' ').reverse.mkString(" "),     // same bag of words, reversed
      3L -> "completely different text with no shared vocabulary whatsoever anywhere at all thanks"
    ).toDF("doc_id", "text")
    val v = graft.operators.Dedup.crossModalVerdict(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16,
      jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8,
      embDim = 64, nbits = 16, cosThreshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)),
          r.getLong(6), r.getString(7))).toMap
    // keep-first: the lowest id survives every axis
    assert(v(0L) === (((0L, 0L, 0L, 0L, 0L), 0L, "keep")))
    // exact copy: every axis that sees it defers to 'exact'
    assert(v(1L)._1._1 === 1L && v(1L)._3 === "exact")
    // reversed doc: identical bucket counts → cosine exactly 1.0 → semantic
    // flags it; trigram shingles are order-sensitive → jaccard/containment
    // do NOT (the axis adds evidence, not redundancy); SimHash (order-blind
    // token votes) also fires but semantic outranks it in precedence
    assert(v(2L)._1._4 === 1L, "semantic must flag the reordered doc")
    assert(v(2L)._1._2 === 0L && v(2L)._1._3 === 0L,
      "order-sensitive shingle axes must miss a pure reorder")
    assert(v(2L)._3 === "semantic")
    // unrelated doc: clean
    assert(v(3L) === (((0L, 0L, 0L, 0L, 0L), 0L, "keep")))
    // the semantic flags are exactly cosineNearDupPairs' keep-first losers
    val emb = graft.pipeline.HashingEmbedder(64)
    val direct = graft.operators.AnnIndex.cosineNearDupPairs(
      docs.select(col("doc_id"), emb.embedRaw(col("text")).as("v")),
      "doc_id", "v", threshold = 0.95, nbits = 16, dim = 64)
      .select("id_b").distinct().as[Long].collect().toSet
    assert(v.collect { case (id, ((_, _, _, 1L, _), _, _)) => id }.toSet === direct)
    // five-axis funnel: ordered names, attribution sums to drops
    val f = graft.operators.Dedup.verdictFunnel(
      graft.operators.Dedup.crossModalVerdict(docs, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16,
        jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8,
        embDim = 64, nbits = 16, cosThreshold = 0.95),
      "doc_id", axes = Seq("exact", "containment", "jaccard", "semantic", "simhash"))
      .collect().map(r => (r.getString(1), r.getLong(3)))
    assert(f.map(_._1) === Seq("exact", "containment", "jaccard", "semantic", "simhash"))
    assert(f.map(_._2).sum === v.values.count(_._2 == 1L).toLong)
  }

  test("crossModalVerdict: nbits <= 0 takes the banded-centered corpus-derived scale path") {
    import spark.implicits._
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val docs = Seq(
      0L -> base,
      1L -> base,                                  // exact copy
      2L -> base.split(' ').reverse.mkString(" "), // same bag of words → cosine 1
      3L -> "completely different text with no shared vocabulary whatsoever anywhere at all thanks"
    ).toDF("doc_id", "text")
    // the auto path must reproduce the fixture's semantic verdicts: the
    // exact copy defers to 'exact', the reorder is caught by the semantic
    // axis (identical bucket counts → raw cosine exactly 1.0 survives any
    // candidate policy: reps share centered vectors → every band agrees)
    val v = graft.operators.Dedup.crossModalVerdict(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16,
      jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8,
      embDim = 64, nbits = 0, cosThreshold = 0.95)
      .collect().map(r => r.getLong(0) -> (r.getLong(4), r.getString(7))).toMap
    assert(v(0L) === ((0L, "keep")))
    assert(v(1L)._2 === "exact")
    assert(v(2L) === ((1L, "semantic")), "reorder must be a semantic loser under auto")
    assert(v(3L) === ((0L, "keep")))
    // width derivations: per-band bits scale with the corpus, integer shifts
    assert(graft.operators.AnnIndex.autoNbits(128L) === 4)
    assert(graft.operators.AnnIndex.autoNbits(1L << 20) === 13)
    assert(graft.operators.AnnIndex.autoNbits(1L << 30) === 20, "capped at maxBits")
    assert(graft.operators.AnnIndex.autoBandBits(500L) === 5)
    assert(graft.operators.AnnIndex.autoBandBits(5000L) === 9)
    assert(graft.operators.AnnIndex.autoBandBits(50000L) === 12)
    assert(graft.operators.AnnIndex.autoBandBits(3L) === 4, "floored at minBits")
  }

  test("cosineNearDupPairsBandedCentered: verified pairs ⊆ brute force, exact dups always recalled") {
    import spark.implicits._
    // 20 integer vectors in 8 dims: 3 planted near-dup groups + noise
    val rnd = new scala.util.Random(7)
    val baseVecs = Seq.tabulate(3)(_ => Seq.fill(8)(rnd.nextInt(50).toDouble))
    val vecs = (0 until 20).map { i =>
      val v =
        if (i < 6) baseVecs(i % 3).map(_ + (if (i < 3) 0.0 else 1.0)) // 3 near-dup pairs
        else Seq.fill(8)(rnd.nextInt(50).toDouble)
      (i.toLong, v)
    }
    val df = vecs.toDF("id", "v")
    val got = graft.operators.AnnIndex.cosineNearDupPairsBandedCentered(
      df, "id", "v", threshold = 0.99, rbits = 4, bands = 16, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force ≥ 0.99 on the same floor-rounded score
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.floor(d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum) * 1e6) / 1e6
    }
    val brute = (for {
      (i, vi) <- vecs; (j, vj) <- vecs if i < j && cos(vi, vj) >= 0.99
    } yield (i, j)).toSet
    assert(got.subsetOf(brute), "the exact verify must keep candidates ⊆ brute force")
    // the planted pairs (i, i+3) have cosine ≈ 1 → centered vectors nearly
    // identical → recalled with near-certainty at 16 bands
    val planted = Set((0L, 3L), (1L, 4L), (2L, 5L)).filter(brute)
    assert(planted.subsetOf(got), s"planted near-dups must be recalled: got $got")
  }

  test("q217 full-stack verdict: the perceptual axis attributes drops no text axis sees") {
    val v = graft.queries.Registry.all("q217_full_stack_verdict").fn(spark, sfDir)
      .collect()
    val perceptualOnly = v.filter(_.getString(8) == "perceptual")
    assert(perceptualOnly.nonEmpty,
      "reused-footage docs with distinct text must be attributed to the perceptual axis")
    // precedence: a perceptual-attributed doc carries NO stronger-axis flag
    assert(perceptualOnly.forall(r =>
      r.getLong(1) == 0L && r.getLong(2) == 0L && r.getLong(3) == 0L && r.getLong(4) == 0L))
    // and the axis is not byte-exact in disguise: flags exceed what exact
    // media hashing could see (every media blob has distinct bytes)
    assert(v.map(_.getLong(5)).sum > 0)
  }

  test("packSequences: token conservation, full non-tail fill, boundary spans") {
    import spark.implicits._
    // 5 + 7 + 4 = 16 tokens at seqLen 6 → sequences 0..2; doc 2 (7 tokens,
    // offsets 5..11) straddles the 0/1 boundary
    val docs = Seq(
      (1L, "a b c d e"), (2L, "f g h i j k l"), (3L, "m n o p")
    ).toDF("doc_id", "text")
    val r = graft.operators.Packing.packSequences(docs, "doc_id", "text", seqLen = 6)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getDouble(4))).toMap
    assert(r.keySet === Set(0L, 1L, 2L))
    assert(r(0L) === ((2L, 2L, 6L, 1.0)), "seq 0: docs 1+2, both start here, full")
    assert(r(1L) === ((1L, 0L, 6L, 1.0)), "seq 1: doc 2 alone fills it, no doc starts")
    assert(r(2L)._3 === 4L && r(2L)._4 === 0.6667, "tail holds the remainder")
    assert(r.values.map(_._3).sum === 16L, "tokens must be conserved")
  }

  test("packedSeqSpans/packedErasureDelta: global ripple vs shard-local containment") {
    import spark.implicits._
    // 6 docs × 4 tokens at seqLen 4: global layout = one doc per sequence.
    // Erase doc 2 → global: seq 1 removed-equivalent shift (docs 3..6 all
    // move one sequence earlier → every downstream sequence changes);
    // shard-local with a huge budget (no cuts → one shard) behaves like
    // global, so use the GLOBAL scheme for ripple and hand-build the
    // shard-local claim via q241 on the fixture instead.
    val docs = (1L to 6L).map(i => (i, s"w$i a$i b$i c$i")).toDF("doc_id", "text")
    val tomb = Seq(2L).toDF("doc_id")
    val surv = docs.filter(col("doc_id") =!= 2L)
    val spansOld = graft.operators.Packing.packedSeqSpans(docs, "doc_id", "text", seqLen = 4)
    val spansNew = graft.operators.Packing.packedSeqSpans(surv, "doc_id", "text", seqLen = 4)
    // span shape: doc i occupies exactly seq i-1 fully ([0,3])
    val sp = spansOld.collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sp.toSet === (1L to 6L).map(i => (i - 1, i, 0L, 3L)).toSet)
    val d = graft.operators.Packing.packedErasureDelta(spansOld, spansNew, tomb, "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // seq 0 (doc 1) kept; seq 1 contained the erased doc and changes (doc 3
    // slides in); seqs 2..4 change (docs 4..6 slide); seq 5 removed
    assert(d(("kept", 0L)) === 1L)
    assert(d(("changed", 1L)) === 1L, "the erased doc's sequence changes")
    assert(d(("changed", 0L)) === 3L, "global layout: every downstream sequence changes")
    assert(d(("removed", 0L)) === 1L)
    assert(!d.contains(("added", 0L)) && !d.contains(("added", 1L)))
  }

  test("bounded CDC manifest: every (shard,sub) piece under max + one doc") {
    val docs = Tables.documents(spark, sfDir)
    val m = graft.operators.Export.shardManifestCdcTokenAwareBounded(
      docs, "doc_id", "text", "source",
      shardTokenBudget = 512L, minGapTokens = 256L, maxShardTokens = 1024L)
      .collect()
    assert(m.nonEmpty)
    // hard bound: piece token mass < maxShardTokens + the longest doc
    val maxDoc = docs.select(max(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    val masses = m.map(r => r.getLong(3))
    assert(masses.forall(_ < 1024L + maxDoc),
      s"piece mass must be < max + one doc (maxDoc $maxDoc): ${masses.max}")
    // pieces tile each shard contiguously from sub 0
    val byShard = m.groupBy(_.getLong(0))
    byShard.foreach { case (sid, rows) =>
      val subs = rows.map(_.getLong(1)).sorted
      assert(subs.head === 0L, s"shard $sid must start at sub 0")
    }
    // token conservation vs the unbounded min-gap manifest
    val base = graft.operators.Export.shardManifestCdcTokenAwareMinGap(
      docs, "doc_id", "text", "source",
      shardTokenBudget = 512L, minGapTokens = 256L)
      .agg(sum("n_tokens")).head.getLong(0)
    assert(masses.sum === base)
  }

  test("cosineNearDupPairsCellBanded: within-cell pairs verified, cross-cell pairs never candidates") {
    import spark.implicits._
    // two well-separated cells; a near-identical pair inside cell 0, an
    // equally-similar pair SPLIT across cells (SemDeDup's documented trade:
    // cross-cluster pairs are not compared)
    val rows = Seq(
      (0L, Seq.fill(8)(100.0), 0L),
      (1L, Seq.fill(8)(100.0).updated(0, 101.0), 0L),
      (2L, Seq.tabulate(8)(i => if (i < 4) 200.0 else 5.0), 0L),
      (3L, Seq.tabulate(8)(i => if (i < 4) 200.0 else 5.0), 1L), // identical to 2 but other cell
      (4L, Seq.tabulate(8)(i => if (i < 4) 5.0 else 200.0), 1L)
    ).toDF("id", "v", "cell")
    val got = graft.operators.AnnIndex.cosineNearDupPairsCellBanded(
      rows, "id", "v", "cell", threshold = 0.99, rbits = 4, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 1L)), "near-identical same-cell pair must verify")
    assert(!got.contains((2L, 3L)),
      "identical vectors in DIFFERENT cells are never candidates — the SemDeDup trade")
    assert(!got.exists { case (a, b) => Set(a, b) == Set(3L, 4L) })
  }

  test("TTTD backup-divisor manifest: 2x window bound holds, tokens conserved, supersets nest") {
    val docs = Tables.documents(spark, sfDir)
    val maxTok = 1024L
    val m = graft.operators.Export.shardManifestCdcTokenAwareTttd(
      docs, "doc_id", "text", "source",
      shardTokenBudget = 512L, minGapTokens = 256L, maxShardTokens = maxTok).collect()
    assert(m.nonEmpty)
    val maxDoc = docs.select(max(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")))
      .head.getLong(0)
    // the documented bound: doc starts within a piece span < 2*maxTok, so
    // piece mass < 2*maxTok + one document
    assert(m.map(_.getLong(3)).forall(_ < 2 * maxTok + maxDoc),
      s"piece mass must be < 2*max + one doc: ${m.map(_.getLong(3)).max}")
    // token conservation vs the min-gap base
    val base = graft.operators.Export.shardManifestCdcTokenAwareMinGap(
      docs, "doc_id", "text", "source", 512L, 256L)
      .agg(sum("n_tokens")).head.getLong(0)
    assert(m.map(_.getLong(3)).sum === base)
    // pieces tile each shard from sub 0 with contiguous ids
    m.groupBy(_.getLong(0)).foreach { case (sid, rows) =>
      val subs = rows.map(_.getLong(1)).sorted
      assert(subs.head === 0L && subs === (0L until subs.length).toArray.toSeq,
        s"shard $sid pieces must be contiguous from 0: ${subs.mkString(",")}")
    }
  }

  test("tttdPieceIds: coincident fallback/backup boundaries count once (ADVICE r16)") {
    import spark.implicits._
    // maxShardTokens = 100. Window 0 has no interior backup candidate → the
    // content-blind fallback lands at local offset 100; window 1's LAST
    // backup candidate starts EXACTLY at 100. Before the distinct() those
    // were two boundaries at one position — docs past 100 counted both,
    // skipped sub 1, and piece 1 came out empty.
    val withBkp = Seq(
      (1L, 100L, 0L, 1L, 0L, 0L, 1L),   // first doc: bkp but __loff = 0, excluded
      (2L, 50L, 100L, 0L, 0L, 0L, 1L),  // backup candidate AT the window boundary
      (3L, 100L, 150L, 0L, 0L, 0L, 0L),
      (4L, 60L, 250L, 0L, 0L, 0L, 0L)   // win 2 → windows 0 and 1 emit boundaries
    ).toDF("doc_id", "n_tok", "start_off", "cand", "shard_id", "shard_start", "__bkp")
    val got = graft.operators.Export.tttdPieceIds(withBkp, "doc_id", 100L)
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 1L),
      s"coincident boundaries must dedup to one cut: $got")
    val subs = got.values.toSeq.distinct.sorted
    assert(subs === (0L until subs.length).toSeq, "pieces contiguous from 0")
  }

  test("floorLongDiv: Math.floorDiv semantics on negative sums (ADVICE r16)") {
    import spark.implicits._
    val rows = Seq((-7L, 2L), (7L, 2L), (-8L, 2L), (0L, 3L), (-1L, 3L))
      .toDF("a", "b")
    val got = rows.select(col("a"), col("b"),
      graft.functions.MathFunctions.floorLongDiv(col("a"), col("b")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    got.foreach { case ((a, b), q) => assert(q === Math.floorDiv(a, b), s"$a/$b") }
  }

  test("detectorAgreement: hand-checked kappa, identical raters, undefined case") {
    import spark.implicits._
    // 4 docs: a and b agree on 3 of 4 (pa=pb=1/2 → pe=1/2, po=1/2... build
    // explicit: flags a = (1,1,0,0), b = (1,0,0,1): po = 2/4, pe = 1/2 →
    // kappa = 0; a vs a → kappa 1; z all-zero vs z2 all-zero → pe = 1 → null
    val v = Seq(
      (1L, 1L, 1L, 0L, 0L), (2L, 1L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L, 0L), (4L, 0L, 1L, 0L, 0L)
    ).toDF("doc_id", "f_a", "f_b", "f_z", "f_z2")
    val r = graft.operators.Dedup.detectorAgreement(v, axes = Seq("a", "b", "z", "z2"))
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getLong(2), x.getLong(3), x.getLong(4),
          x.getDouble(5), x.getDouble(6), if (x.isNullAt(7)) None else Some(x.getDouble(7)))).toMap
    assert(r(("a", "b")) === ((2L, 2L, 1L, 0.5, 0.5, Some(0.0))),
      "independent-looking raters: po = pe → kappa 0")
    assert(r(("z", "z2"))._6 === None, "two constant raters: kappa undefined")
    assert(r(("a", "z")) === ((2L, 0L, 0L, 0.5, 0.5, Some(0.0))))
    // kappa = 1 for a detector against itself (identical flag columns)
    val same = v.withColumn("f_c", col("f_a"))
    val k = graft.operators.Dedup.detectorAgreement(same, axes = Seq("a", "c"))
      .collect().head
    assert(k.getDouble(7) === 1.0)
  }

  test("q219 curate-mix-pack chain invariants: keeps-only, quota-bounded, token-conserving") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val verdict = graft.queries.TextQueries.fullStackVerdictOf(spark, sfDir)
    val keepIds = verdict.filter(col("drop_doc") === 0)
      .select("doc_id").as[Long].collect().toSet
    assert(keepIds.nonEmpty && keepIds.size < 500,
      "the six-axis verdict must keep some docs and drop some")
    val keeps = docs.join(verdict.filter(col("drop_doc") === 0).select("doc_id"), Seq("doc_id"))
    val quotas = graft.operators.Sampling.temperatureMix(
      keeps.groupBy(col("source")).agg(count(lit(1)).as("n")),
      "source", "n", alpha = 0.5, budget = 100L)
    // allocation: quotas sum exactly to the budget
    assert(quotas.agg(sum("quota")).head.getLong(0) === 100L)
    val sample = graft.operators.Sampling.takeQuota(keeps, "doc_id", "source", quotas)
    val sampled = sample.select("doc_id").as[Long].collect().toSet
    // consumption: every sampled doc is a keep; per-source counts respect quotas
    assert(sampled.subsetOf(keepIds), "a dropped doc must never be sampled")
    val perSrc = sample.groupBy("source").agg(count(lit(1)).as("c"))
      .join(quotas, Seq("source")).collect()
    assert(perSrc.forall(r => r.getAs[Long]("c") <= r.getAs[Long]("quota")))
    // packing: tokens conserved end to end, full fill everywhere but the tail
    val packed = graft.operators.Packing.packSequences(
      sample.select("doc_id", "text"), "doc_id", "text", seqLen = 128).collect()
    val totalTok = sample.select(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .as[Long].collect().sum
    assert(packed.map(_.getAs[Long]("n_tokens")).sum === totalTok)
    assert(packed.dropRight(1).forall(_.getAs[Double]("fill") === 1.0))
    assert(packed.map(_.getAs[Long]("seq_id")).toSeq ===
      packed.indices.map(_.toLong), "sequence ids must be dense from 0")
  }

  test("Export: shard budget overflow ≤ one doc, roundtrip audit equal, checksum names a mutated shard") {
    import graft.operators.Export
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val budget = 2048L
    val m = Export.shardManifest(docs, "doc_id", "text", "source", budget).collect()
    assert(m.length > 1, "budget must produce multiple shards on the fixture")
    // whole documents only: every shard but the last holds ≥ budget tokens
    // minus its own final doc's spill... the sharp invariant: each shard's
    // token mass < budget + its max doc length, and starts stay aligned:
    // first_doc of shard k+1 = last_doc of shard k + (next id present)
    val maxDocTok = docs.select(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .as[Long].collect().max
    assert(m.forall(_.getAs[Long]("n_tokens") < budget + maxDocTok))
    assert(m.init.forall(_.getAs[Long]("n_tokens") >= budget - maxDocTok),
      "a non-final shard cannot close far below budget (only the straddling doc spills)")
    assert(m.map(_.getAs[Long]("n_docs")).sum === docs.count())
    // physical roundtrip: write → read-back audit reproduces the manifest
    val out = tempDir("graft_export_spec").toString
    val written = Export.writeShards(docs, "doc_id", "text", "source", budget, out)
    val dirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("shard_id="))
    assert(dirs.length === m.length, "one hive directory per shard")
    val audited = Export.auditShards(spark, out, "doc_id", "text", "source", budget)
    assert(audited.collect().toSeq === written.collect().toSeq)
    assert(audited.collect().toSeq === m.toSeq)
    // tamper with one shard: only that shard's manifest line may change
    val tampered = spark.read.parquet(out).drop("shard_id")
      .withColumn("text",
        when(col("doc_id") === m.head.getAs[Long]("first_doc"),
          concat(col("text"), lit(" x"))).otherwise(col("text")))
    val tm = Export.shardManifest(tampered, "doc_id", "text", "source", budget).collect()
    assert(tm.head.getAs[String]("checksum") !== m.head.getAs[String]("checksum"),
      "a mutated document must change its shard's checksum")
  }

  test("manifestDelta: append-only growth re-ships only the tail shard plus added shards") {
    import graft.operators.Export
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val budget = 2048L
    val cutoff = 300L // append-only: the 'old' corpus is a doc_id prefix
    val oldM = Export.shardManifest(docs.filter(col("doc_id") < cutoff),
      "doc_id", "text", "source", budget)
    val newM = Export.shardManifest(docs, "doc_id", "text", "source", budget)
    val d = Export.manifestDelta(oldM, newM).collect()
    val byStatus = d.groupBy(_.getAs[String]("status")).view.mapValues(_.length).toMap
    assert(byStatus.getOrElse("removed", 0) === 0, "append-only growth removes nothing")
    assert(byStatus("changed") === 1,
      "exactly the old tail shard changes (its partial window gained docs)")
    assert(byStatus.getOrElse("unchanged", 0) === oldM.count().toInt - 1,
      "every already-full old shard is untouched — the incremental-export win")
    assert(d.filter(_.getAs[String]("status") == "changed")
      .map(_.getAs[Long]("shard_id")).toSeq ===
      Seq(d.filter(_.getAs[String]("status") != "added").map(_.getAs[Long]("shard_id")).max),
      "the changed shard is the old tail")
    // a genuine removal (drop a middle doc) shifts offsets: later shards change
    val shrunk = Export.manifestDelta(
      newM, Export.shardManifest(docs.filter(col("doc_id") =!= 100L),
        "doc_id", "text", "source", budget)).collect()
    assert(shrunk.count(_.getAs[String]("status") == "changed") > 1,
      "a mid-corpus removal must ripple through downstream shards")
  }

  test("CDC shards localize a mid-corpus removal where offset shards ripple") {
    import graft.operators.Export
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val thr = "10"
    val base = Export.shardManifestCdc(docs, "doc_id", "text", "source", thr)
    // non-boundary victim: removal changes EXACTLY its own shard
    val victim = docs.filter(substring(md5(col("text")), 1, 2) >= lit(thr))
      .agg(min("doc_id")).head.getLong(0)
    val d = Export.manifestDelta(base,
      Export.shardManifestCdc(docs.filter(col("doc_id") =!= victim),
        "doc_id", "text", "source", thr)).collect()
    assert(d.count(_.getAs[String]("status") == "changed") === 1)
    assert(d.count(_.getAs[String]("status") == "unchanged") === d.length - 1,
      "content-defined boundaries must not ripple on a non-boundary edit")
    // boundary victim: its shard merges into the previous one — later shard
    // ids shift, so the delta degrades to the offset-style ripple (the
    // documented limitation, not a surprise)
    val cutVictim = docs.filter(substring(md5(col("text")), 1, 2) < lit(thr))
      .filter(col("doc_id") > 100)
      .agg(min("doc_id")).head.getLong(0)
    val d2 = Export.manifestDelta(base,
      Export.shardManifestCdc(docs.filter(col("doc_id") =!= cutVictim),
        "doc_id", "text", "source", thr)).collect()
    assert(d2.count(r => r.getAs[String]("status") != "unchanged") > 1)
  }

  test("token-aware CDC: mean shard mass tracks the budget, tokens conserved, giant docs isolate") {
    import graft.operators.Export
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val budget = 2048L
    val m = Export.shardManifestCdcTokenAware(docs, "doc_id", "text", "source", budget).collect()
    val totalTok = docs.select(
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .as[Long].collect().sum
    assert(m.map(_.getAs[Long]("n_tokens")).sum === totalTok, "tokens conserved")
    // boundary rate per token = 1/budget ⇒ E[shards] ≈ total/budget; the
    // fixture is deterministic, so pin the realized count to the 2× band
    val nShards = m.length.toLong
    assert(nShards >= totalTok / budget / 2 && nShards <= totalTok / budget * 2,
      s"shard count $nShards must track total/budget = ${totalTok / budget}")
    // a synthetic giant doc (≥ budget tokens) always cuts — it starts its
    // own shard no matter its hash
    val giant = docs.unionByName(Seq(
      (999999L, "synthetic", Seq.fill(budget.toInt + 5)("w").mkString(" ")))
      .toDF("doc_id", "source", "text"))
    val ga = Export.assignShardsCdcTokenAware(giant, "doc_id", "text", budget)
      .filter(col("doc_id") === 999999L).collect().head
    assert(ga.getAs[Long]("cut") === 1L, "a >= budget doc must be a boundary")
  }

  test("rankingEval: hand-checked MRR/nDCG, zero-hit query, perfect ranking") {
    import spark.implicits._
    // query A: system [1,3,5] vs truth {3,7} → p@3 = 1/3, mrr = 1/2,
    //   dcg = 1/log2(3) ≈ 0.63093, idcg = 1 + 1/log2(3) ≈ 1.63093
    // query B: nothing relevant retrieved → all-zero row, still present
    // query C: perfect prefix → ndcg = 1
    val ranked = Seq(
      ("A", 1L, 1L), ("A", 3L, 2L), ("A", 5L, 3L),
      ("B", 9L, 1L), ("B", 8L, 2L), ("B", 7L, 3L),
      ("C", 1L, 1L), ("C", 2L, 2L), ("C", 3L, 3L)
    ).toDF("q", "d", "rn")
    val truth = Seq(
      ("A", 3L), ("A", 7L),
      ("B", 1L), ("B", 2L),
      ("C", 1L), ("C", 2L), ("C", 3L)
    ).toDF("q", "d")
    val r = graft.operators.Retrieval.rankingEval(ranked, truth, "q", "d", "rn", k = 3)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4),
          x.getDouble(5), x.getDouble(6), x.getDouble(7))).toMap
    assert(r("A") === ((2L, 1L, 0.333333, 0.5, 0.63093, 1.63093, 0.386853)))
    assert(r("B") === ((2L, 0L, 0.0, 0.0, 0.0, 1.63093, 0.0)))
    assert(r("C") === ((3L, 3L, 1.0, 1.0, 2.13093, 2.13093, 1.0)))
    // macro summary: means over the per-query (rounded) values
    val sm = graft.operators.Retrieval.rankingEvalSummary(
      graft.operators.Retrieval.rankingEval(ranked, truth, "q", "d", "rn", k = 3))
      .collect().head
    assert(sm.getLong(0) === 3L)
    assert(sm.getDouble(1) === 0.444444, "mean p@3 = (0 + 1/3 + 1)/3")
    assert(sm.getDouble(2) === 0.5, "mean mrr = (0 + 0.5 + 1)/3")
    assert(sm.getDouble(3) === 0.462284, "mean ndcg = (0 + 0.386853 + 1)/3")
  }

  test("rankingEvalGraded: hand-checked graded DCG, zero-hit query, perfect prefix") {
    import spark.implicits._
    // gains 2^g − 1; hand-derived:
    //  A: hits d1@1 (g=2), d3@2 (g=3) → dcg = 3/log2(2) + 7/log2(3) =
    //     7.416508; ideal grades [3,2,1] → idcg = 7 + 3/log2(3) + 1/2 =
    //     9.392789; ndcg = 0.789596
    //  B: zero hits, truth grades [2,1] → idcg = 3 + 1/log2(3) = 3.63093
    //  C: perfect grade-descending prefix → ndcg = 1
    val ranked = Seq(
      ("A", 1L, 1L), ("A", 3L, 2L), ("A", 5L, 3L),
      ("B", 9L, 1L), ("B", 8L, 2L),
      ("C", 1L, 1L), ("C", 2L, 2L), ("C", 3L, 3L)
    ).toDF("q", "d", "rn")
    val truth = Seq(
      ("A", 3L, 3L), ("A", 7L, 1L), ("A", 1L, 2L),
      ("B", 1L, 2L), ("B", 2L, 1L),
      ("C", 1L, 3L), ("C", 2L, 2L), ("C", 3L, 1L)
    ).toDF("q", "d", "grade")
    val r = graft.operators.Retrieval.rankingEvalGraded(
        ranked, truth, "q", "d", "rn", "grade", k = 3)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3), x.getDouble(4), x.getDouble(5)))
      .toMap
    assert(r("A") === ((3L, 2L, 7.416508, 9.392789, 0.789596)))
    assert(r("B") === ((2L, 0L, 0.0, 3.63093, 0.0)))
    assert(r("C") === ((3L, 3L, 9.392789, 9.392789, 1.0)))
    // the ideal prefix is capped at k: a 4th truth entry beyond k must not
    // inflate idcg for a query whose n_rel > k
    val truth4 = truth.unionByName(Seq(("A", 9L, 1L)).toDF("q", "d", "grade"))
    val r4 = graft.operators.Retrieval.rankingEvalGraded(
        ranked, truth4, "q", "d", "rn", "grade", k = 3)
      .filter(col("q") === "A").head
    assert(r4.getAs[Double]("idcg") === 9.392789,
      "ideal prefix must slice to k entries")
  }

  test("verdictFunnel: axes derive from the relation's flag columns; partial lists refuse") {
    import spark.implicits._
    val docs = Seq(
      0L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      1L -> "alpha bravo charlie delta echo foxtrot golf hotel india juliet",
      2L -> "unrelated text with completely different vocabulary here now thanks"
    ).toDF("doc_id", "text")
    val v5 = graft.operators.Dedup.crossModalVerdict(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 32, bands = 16,
      jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8,
      embDim = 64, nbits = 16, cosThreshold = 0.95)
    // default derives all five axes IN precedence (schema) order — the r13
    // ADVICE fix: a cross-modal funnel can no longer silently drop an axis
    val f = graft.operators.Dedup.verdictFunnel(v5, "doc_id")
      .collect().map(_.getString(1))
    assert(f === Seq("exact", "containment", "jaccard", "semantic", "simhash"))
    // an explicit list that misses a flag column is an error, not a wrong
    // funnel
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.verdictFunnel(v5, "doc_id",
        axes = Seq("exact", "containment", "jaccard", "simhash")).collect()
    }
    assert(e.getMessage.contains("must cover exactly"))
  }

  test("manifestDeltaByContent: checksum membership, not ordinal shard ids") {
    import graft.operators.Export
    import spark.implicits._
    val oldM = Seq((0L, 10L, "ck_a"), (1L, 20L, "ck_b"), (2L, 30L, "ck_c"))
      .toDF("shard_id", "first_doc", "checksum")
    // shard ck_b vanished: ck_c RENUMBERS to shard 1 but its bytes are
    // identical — content delta keeps it; a new shard ck_d appears
    val newM = Seq((0L, 10L, "ck_a"), (1L, 30L, "ck_c"), (2L, 40L, "ck_d"))
      .toDF("shard_id", "first_doc", "checksum")
    val d = Export.manifestDeltaByContent(oldM, newM)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d === Map("ck_a" -> "keep", "ck_b" -> "drop",
      "ck_c" -> "keep", "ck_d" -> "reship"))
  }

  test("TTTD min gap: every shard but the tail holds >= minGap tokens; cuts only thin") {
    import graft.operators.Export
    val docs = Tables.documents(spark, sfDir).select("doc_id", "source", "text")
    val (budget, minGap) = (2048L, 1024L)
    val plain = Export.shardManifestCdcTokenAware(
      docs, "doc_id", "text", "source", budget).collect()
    val bounded = Export.shardManifestCdcTokenAwareMinGap(
      docs, "doc_id", "text", "source", budget, minGap).collect()
    assert(bounded.map(_.getAs[Long]("n_tokens")).sum ===
      plain.map(_.getAs[Long]("n_tokens")).sum, "tokens conserved")
    val masses = bounded.sortBy(_.getAs[Long]("shard_id")).map(_.getAs[Long]("n_tokens"))
    assert(masses.dropRight(1).forall(_ >= minGap),
      s"every non-tail shard must hold >= $minGap tokens, got ${masses.mkString(",")}")
    assert(bounded.length <= plain.length,
      "suppression can only merge shards, never split them")
    // minGap = 0 suppresses nothing — identical to the plain token-aware CDC
    val degenerate = Export.shardManifestCdcTokenAwareMinGap(
      docs, "doc_id", "text", "source", budget, minGapTokens = 0L).collect()
    assert(degenerate.map(r => (r.getAs[Long]("shard_id"), r.getAs[String]("checksum"))).toSeq
      === plain.map(r => (r.getAs[Long]("shard_id"), r.getAs[String]("checksum"))).toSeq)
  }

  test("exact-group collapse: dup members inherit near-dup flags except where the axis's domain excludes them") {
    import spark.implicits._
    val long = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val rows =
      (0L until 30L).map(i => (i, long)) ++                 // exact group, shingled
        Seq((100L, "unique text one with plenty of distinct vocabulary in this sentence"),
          (101L, "another unrelated document whose words overlap nothing else at all")) ++
        (200L until 205L).map(i => (i, "")) ++              // empty-text group
        (300L until 304L).map(i => (i, "two tokens"))       // < shingleSize tokens
    val v = graft.operators.Dedup.crossModalVerdict(rows.toDF("doc_id", "text"),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16,
        jacThreshold = 0.5, containThreshold = 0.6, maxHamming = 8,
        embDim = 64, nbits = 16, cosThreshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getString(7))).toMap
    // shingled dup group: every non-rep carries EVERY axis flag (identical
    // signature ⇒ guaranteed candidate, similarity 1.0 passes thresholds),
    // attributed 'exact' by precedence; the rep is clean
    assert(v(0L) === ((0L, 0L, 0L, 0L, 0L, "keep")))
    (1L until 30L).foreach { i =>
      assert(v(i) === ((1L, 1L, 1L, 1L, 1L, "exact")), s"doc $i: ${v(i)}")
    }
    // empty-text dups: exact + simhash fire (simhash of identical bytes is
    // identical) and so does semantic — the hashing embedder hashes the
    // empty token, so the vector is NONZERO and identical vectors sit at
    // cosine 1.0 — but the shingle axes exclude empty shingle sets, and
    // collapse must NOT invent those flags
    assert(v(200L)._6 === "keep")
    (201L until 205L).foreach { i =>
      assert(v(i) === ((1L, 0L, 0L, 1L, 1L, "exact")), s"empty doc $i: ${v(i)}")
    }
    // two-token dups: no trigram shingles, but the hashing embedder sees
    // tokens — semantic + simhash + exact fire, shingle axes stay silent
    assert(v(300L)._6 === "keep")
    (301L until 304L).foreach { i =>
      assert(v(i) === ((1L, 0L, 0L, 1L, 1L, "exact")), s"short doc $i: ${v(i)}")
    }
    // uniques stay clean
    assert(v(100L)._6 === "keep" && v(101L)._6 === "keep")
  }

  test("delta dedup collapse: corpus wins regardless of id, identical deltas keep-first, empty-set docs survive") {
    import spark.implicits._
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val b = "completely different words that overlap nothing from the other corpus text here"
    val corpus = Seq((10L, a)).toDF("doc_id", "text")
    val delta = Seq(
      1L -> a,      // identical to corpus — drops even though its id is lower
      2L -> b,      // first of an identical delta pair — survives
      3L -> b,      // second — drops to 2 (keep-first)
      4L -> "a b",  // < shingleSize tokens: never enters banding — survives
      5L -> "a b",  // its identical twin ALSO survives (empty-set domain)
      6L -> "one more unique document with its own vocabulary entirely thanks"
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.dedupDeltaAgainstCorpus(
        corpus, delta, "doc_id", "text",
        shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L, 5L, 6L))
  }

  test("longDiv: integral division stays exact past 2^53 where the double path rounds") {
    import spark.implicits._
    val big = (1L << 53) + 1L
    val df = Seq((big, 1L), ((1L << 53) + 3L, 2L), (0L, 7L)).toDF("a", "b")
    val got = df.select(graft.functions.MathFunctions.longDiv(col("a"), col("b")))
      .as[Long].collect().toSeq
    assert(got === Seq(big, (1L << 52) + 1L, 0L))
    // the old pattern loses the low bit: (2^53+1)/1 rounds to 2^53 in DOUBLE
    val lossy = df.select((col("a") / col("b")).cast("long")).as[Long].collect().head
    assert(lossy === (1L << 53), "double division must demonstrate the loss longDiv fixes")
  }
}
