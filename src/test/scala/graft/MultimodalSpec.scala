package graft

import graft.functions.expressions.PerceptualHash
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dhash/ahash: empty and constant blobs hash to 0; output fits in 60 bits") {
    assert(PerceptualHash.dhash(Array.emptyByteArray) === 0L)
    assert(PerceptualHash.ahash(Array.emptyByteArray) === 0L)
    // constant signal: every bucket mean equal, no strict > anywhere
    val flat = Array.fill[Byte](300)(42)
    assert(PerceptualHash.dhash(flat) === 0L)
    assert(PerceptualHash.ahash(flat) === 0L)
    val ramp = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    for (h <- Seq(PerceptualHash.dhash(ramp), PerceptualHash.ahash(ramp)))
      assert(h >= 0L && h < (1L << 60))
  }

  test("dhash: strictly decreasing signal sets every gradient bit") {
    // bucket means strictly decrease, so all 60 comparisons fire
    val desc = Array.tabulate[Byte](244)(i => (243 - i).toByte)
    assert(PerceptualHash.dhash(desc) === (1L << 60) - 1)
  }

  test("dhash: in-place substitution of a few bytes moves the hash only a few bits") {
    val rnd = new scala.util.Random(7)
    val base = Array.fill[Byte](400)((rnd.nextInt(64) + 32).toByte)
    val edited = base.clone()
    var i = 0
    while (i < 4) { edited(i) = (edited(i) + 20).toByte; i += 1 }
    assert(ham(PerceptualHash.dhash(base), PerceptualHash.dhash(edited)) <= 4)
  }

  test("expression codegen matches the Scala kernel") {
    val rows = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""), (3L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"))
    val df = rows.toDF("id", "t")
    val got = df.select($"id", Multimodal.dHash($"t".cast("binary")).as("d"),
        Multimodal.aHash($"t".cast("binary")).as("a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = rows.map { case (id, t) =>
      id -> (PerceptualHash.dhash(t.getBytes), PerceptualHash.ahash(t.getBytes)) }.toMap
    assert(got === want)
  }

  test("mediaDupPairs: identical and near-identical blobs pair; banding finds them") {
    val body = Array.tabulate(600)(i => ('a' + (i * 7 % 26)).toChar).mkString
    val edited = "ZZZZ" + body.drop(4) // in-place head substitution
    val df = Seq((1L, body), (2L, body), (3L, edited), (4L, "completely different " * 30))
      .toDF("id", "m")
    val pairs = Multimodal.mediaDupPairs(df, "id", "m", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.contains((1L, 2L, 0L))) // exact copy
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 3L && h <= 3 }) // re-encode
    assert(!pairs.exists { case (a, b, _) => b == 4L || a == 4L })
  }

  test("captionFrameStats: frame counts, bytes, and duplicate-frame ratio") {
    // media: 64-byte frame repeated 3 times + caption of 5 tokens
    val frame = "x" * 64
    val df = Seq((10L, "one two three four five", frame * 3, "s1"),
                 (11L, "a b", frame + ("y" * 64), "s2"))
      .toDF("doc_id", "text", "m", "source")
    val got = Multimodal.captionFrameStats(spark, df, frameBytes = 64,
      idCol = "doc_id", textCol = "text", mediaCol = "m")
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_frames") === 3L)
    assert(got(0).getAs[Long]("distinct_frames") === 1L)
    assert(got(0).getAs[Long]("caption_tokens") === 5L)
    assert(got(0).getAs[Double]("dup_frame_ratio") > 0.6)
    assert(got(1).getAs[Long]("n_frames") === 2L)
    assert(got(1).getAs[Long]("distinct_frames") === 2L)
    assert(got(1).getAs[Double]("dup_frame_ratio") === 0.0)
  }

  test("frameAlignSpans: offset-consistent shared frame runs merge; stop-frames drop") {
    val A = "a" * 64; val B = "b" * 64; val C = "c" * 64
    val X = "x" * 64; val Y = "y" * 64; val Z = "z" * 64
    // media 1: A B C X — media 2: Y A B C — shared run A,B,C at offset -1
    // media 3: Z Z Z Z — no overlap with anyone
    val df = Seq((1L, A + B + C + X), (2L, Y + A + B + C), (3L, Z * 4))
      .toDF("doc_id", "m")
    val runs = Multimodal.frameAlignSpans(spark, df, frameBytes = 64, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(runs.toSeq === Seq((1L, 2L, 0L, 1L, 3L))) // A@0 aligns A@1, run of 3
    // a frame shared by every media is a stop-frame: with maxDf=2 the
    // common S frame cannot create pairs, the A/B overlap still reports
    val S = "s" * 64
    val df2 = Seq((1L, S + A + B), (2L, S + A + B), (3L, S + Z))
      .toDF("doc_id", "m")
    val withStop = Multimodal.frameAlignSpans(spark, df2, frameBytes = 64, minRun = 2,
        maxDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(withStop.toSeq === Seq((1L, 2L, 1L, 1L, 2L))) // A,B only; S filtered
    // without the cap the S frame joins all three media pairwise
    val noCap = Multimodal.frameAlignSpans(spark, df2, frameBytes = 64, minRun = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(noCap.toSet === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("frameAlignSpans: repeated frames within one media do not break the island arithmetic") {
    val A = "a" * 64; val B = "b" * 64
    // media 1 loops A twice; media 2 has one A — offsets 0 and 1 both match,
    // each a 1-frame run; the (1,2) pair at offset 0 must also carry the
    // B-aligned run without double-counting
    val df = Seq((1L, A + A + B), (2L, A + B + B)).toDF("doc_id", "m")
    val runs = Multimodal.frameAlignSpans(spark, df, frameBytes = 64, minRun = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // offset 1: media1 frames (1=A, 2=B) align media2 frames (0=A, 1=B)
    assert(runs.contains((1L, 2L, 1L, 0L, 2L)))
  }

  test("frameAlignSpansPerceptual: noised frames align within tolerance, exact variant misses them") {
    // high-texture pseudo-random frames: independent frames sit far apart
    // in hamming, an in-place 2-byte substitution moves only bucket 0
    def rndFrame(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Array.fill(128)((33 + r.nextInt(90)).toChar).mkString
    }
    val noise = (s: String) => "ZZ" + s.drop(2)
    val (fA, fB, fX, fQ) = (rndFrame(1), rndFrame(2), rndFrame(3), rndFrame(4))
    val df = Seq((1L, fA + fB + fX), (2L, noise(fA) + noise(fB) + fQ))
      .toDF("doc_id", "m")
    val perceptual = Multimodal.frameAlignSpansPerceptual(spark, df, frameBytes = 128,
        minRun = 2, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(perceptual.toSeq === Seq((1L, 2L, 0L, 0L, 2L))) // A,B run survives the noise
    val exact = Multimodal.frameAlignSpans(spark, df, frameBytes = 128, minRun = 1)
    assert(exact.count() === 0L) // checksums see nothing
    // stop-frame cap: buckets shared by more media than maxDf drop out
    val common = rndFrame(5)
    val fE = rndFrame(6)
    val df3 = Seq((1L, common + fE), (2L, common + noise(fE)), (3L, common + rndFrame(7)))
      .toDF("doc_id", "m")
    val capped = Multimodal.frameAlignSpansPerceptual(spark, df3, frameBytes = 128,
        minRun = 1, maxHamming = 3, maxDf = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((1L, 2L))) // only the E≈noise(E) match; common frame filtered
  }

  test("perceptual spans from a parquet round-tripped frame-hash index ≡ inline build") {
    // the q169 artifact path: frame hashes survive a parquet round trip and
    // drive the band join to the identical spans the inline build produces
    def rnd(seed: Int): String = {
      val r = new scala.util.Random(seed)
      Array.fill(128)((33 + r.nextInt(90)).toChar).mkString
    }
    val noise = (s: String) => "ZZ" + s.drop(2)
    val (fA, fB) = (rnd(11), rnd(12))
    val df = Seq((1L, fA + fB + rnd(13)), (2L, noise(fA) + noise(fB) + rnd(14)))
      .toDF("doc_id", "m")
    val inline = Multimodal.frameAlignSpansPerceptual(spark, df, frameBytes = 128,
      minRun = 2, maxHamming = 3).collect().map(_.toSeq).toSeq
    val tmp = tempDir("graft_fh_rt").toString
    Multimodal.frameHashes(spark, df, frameBytes = 128, idCol = "doc_id", mediaCol = "m")
      .write.mode("overwrite").parquet(tmp)
    val roundTripped = Multimodal.frameAlignSpansPerceptualFromHashes(
      spark.read.parquet(tmp), minRun = 2, maxHamming = 3)
      .collect().map(_.toSeq).toSeq
    assert(roundTripped === inline)
    assert(inline.nonEmpty)
  }

  test("curateMedia: caption gate, frame gates, and perceptual dedup each drop their targets") {
    val body = Array.tabulate(600)(i => ('a' + (i * 11 % 26)).toChar).mkString
    val caption = "tok " * 30
    val rows = Seq(
      (1L, caption, body, "keep"),              // survives
      (2L, caption, "QQQQ" + body.drop(4), "dup"), // perceptual dup of 1 → dropped
      (3L, "short", body.reverse, "badcap"),    // caption gate
      (4L, caption, "tiny", "smallmedia"),      // < 2 frames at 128 B
      (5L, caption, ("z" * 128) * 4, "loopjunk")) // dup_frame_ratio 0.75 > 0.5
      .toDF("id", "caption", "m", "source")
    val kept = Multimodal.curateMedia(spark, rows, frameBytes = 128,
        minCaptionTokens = 10, minFrames = 2, maxDupFrameRatio = 0.5,
        maxHamming = 3, idCol = "id", textCol = "caption", mediaCol = "m")
      .select("id").as[Long].collect().toSet
    assert(kept === Set(1L))
  }

  test("mediaDupLosers == pairLosers(mediaDupPairs) — hash collapse changes cost, not the verdict") {
    // the q217 media simulation: heavy footage reuse (reel keyed on id%5),
    // small per-doc tail — exactly the shape whose identical-hash groups
    // grow with the corpus
    val docs = spark.range(200).select(col("id"),
      concat(
        substring(repeat(md5((col("id") % 5).cast("string")), 8), 1, 250),
        lpad((col("id") % 40).cast("string"), 6, "0")).as("m"))
    for (h <- Seq(0, 3, 8)) {
      val viaPairs = Multimodal.mediaDupPairs(docs, "id", "m", maxHamming = h)
        .select("id_b").distinct().as[Long].collect().toSet
      val direct = Multimodal.mediaDupLosers(docs, "id", "m", maxHamming = h,
        flag = "f").select("id").as[Long].collect().toSet
      assert(direct === viaPairs, s"loser sets must agree at maxHamming=$h")
    }
  }
}
