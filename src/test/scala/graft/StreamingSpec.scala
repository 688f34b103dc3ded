package graft

import graft.streaming.{Sessionize, StreamingAgg}
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestSession {

  test("streaming sessionization equals batch sessionization") {
    val batch  = Sessionize.batch(spark, sfDir).collect().map(_.toSeq).toSet
    val stream = Sessionize.streaming(spark, sfDir).collect().map(_.toSeq).toSet
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  test("streaming delta dedup equals the batch operator on the same split") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val batch = graft.operators.Dedup.dedupDeltaAgainstCorpus(
        docs.filter(col("doc_id") % 10 =!= 0), docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val stream = graft.streaming.StreamingDedup.deltaDedup(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  test("multi-batch streaming sessionization equals batch (open session carried)") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import org.apache.spark.sql.functions._
    // split the events table into two TIME-ordered files; maxFilesPerTrigger=1
    // makes each a separate micro-batch, so any session straddling the time
    // midpoint crosses a batch boundary and must be carried through state
    val ev  = Tables.events(spark, sfDir).select("user_id", "ts", "event_id").cache()
    val mid = ev.agg(expr("percentile_approx(unix_micros(ts), 0.5)")).head.getLong(0)
    val dir = tempDir("graft_mb")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String, mtimeMs: Long): Unit = {
      val tmp = tempDir("graft_mb_w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst  = dir.resolve(name)
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      // the file source orders batches by modification time — pin it so the
      // earlier half is always batch 0
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
    }
    writeHalf(ev.filter(unix_micros(col("ts")) <= mid), "a_events.parquet", 1000000000000L)
    writeHalf(ev.filter(unix_micros(col("ts")) > mid), "b_events.parquet", 1000000100000L)
    val stream = Sessionize.streamingFrom(spark, dir.toString,
        schemaFrom = dir.resolve("a_events.parquet").toString, glob = "*.parquet",
        gapMinutes = 30, maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSet
    val batch = Sessionize.batch(spark, sfDir).collect().map(_.toSeq).toSet
    ev.unpersist()
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  /** Two-micro-batch sessionize fixture: writes each row-seq as one parquet
    * file with a pinned mtime (the file source orders batches by mtime), runs
    * streamingFrom with maxFilesPerTrigger=1 so each file is its own batch.
    */
  private def sessionizeTwoBatches(batch0: Seq[(Long, Long, Long)],
                                   batch1: Seq[(Long, Long, Long)]) = {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import java.sql.Timestamp
    import spark.implicits._
    val dir = tempDir("graft_ooo")
    def writeFile(rows: Seq[(Long, Long, Long)], name: String, mtimeMs: Long): Unit = {
      val tmp = tempDir("graft_ooo_w")
      rows.map { case (u, s, e) => (u, new Timestamp(s * 1000L), e) }
        .toDF("user_id", "ts", "event_id")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst  = dir.resolve(name)
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
    }
    writeFile(batch0, "a_events.parquet", 1000000000000L)
    writeFile(batch1, "b_events.parquet", 1000000100000L)
    Sessionize.streamingFrom(spark, dir.toString,
        schemaFrom = dir.resolve("a_events.parquet").toString, glob = "*.parquet",
        gapMinutes = 30, maxFilesPerTrigger = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
  }

  /** The cause chain of a failed streaming query, searched for the exactness
    * contract message.
    */
  private def contractViolation(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).exists { c =>
      c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("sessionize exactness contract violated")
    }

  test("out-of-order in-span arrival merges exactly (count grows, extent fixed)") {
    // batch 0: open session [1000s, 2000s]. batch 1 arrives out of order at
    // t=1500s — INSIDE the span, where the global sort would slot it between
    // existing events. Exact merge: count 3, extent unchanged.
    val got = sessionizeTwoBatches(
      Seq((1L, 1000L, 1L), (1L, 2000L, 2L)), Seq((1L, 1500L, 3L)))
    assert(got.length === 1)
    val (_, _, n, start, end) = got.head
    assert(n === 3)
    assert(start === "1970-01-01 00:16:40") // t=1000s
    assert(end === "1970-01-01 00:33:20")   // t=2000s — NOT regressed to 1500s
  }

  test("chain-bridged backfill merges exactly (pre-start events applied latest-first)") {
    // gap 30 min = 1800 s. batch 0: open session at t=10000s. batch 1:
    // [7000, 8500] — 7000 is 3000 s before the open start (beyond gap on its
    // own) but 8500 bridges it: 10000-8500=1500 ≤ gap, then 8500-7000=1500 ≤
    // gap. Batch semantics merge all three into one session [7000, 10000];
    // ascending-order contract checking would wrongly throw on 7000.
    val got = sessionizeTwoBatches(
      Seq((1L, 10000L, 1L)), Seq((1L, 7000L, 2L), (1L, 8500L, 3L)))
    assert(got.length === 1)
    val (_, _, n, start, end) = got.head
    assert(n === 3)
    assert(start === "1970-01-01 01:56:40") // t=7000s — chain-extended
    assert(end === "1970-01-01 02:46:40")   // t=10000s
  }

  test("backward extension at exactly gap merges (boundary is inclusive, as in batch)") {
    // batch semantics start a new session only when the gap is STRICTLY
    // exceeded; a pre-start arrival at exactly gap (10000-8200 = 1800 s) must
    // merge, not throw.
    val got = sessionizeTwoBatches(
      Seq((1L, 10000L, 1L)), Seq((1L, 8200L, 2L)))
    assert(got.length === 1)
    val (_, _, n, start, end) = got.head
    assert(n === 2)
    assert(start === "1970-01-01 02:16:40") // t=8200s
    assert(end === "1970-01-01 02:46:40")   // t=10000s
  }

  test("arrival within gap of a FINALIZED session fails the exactness contract") {
    // batch 0: t=1000s then t=3000s (2000 s > gap) → session [1000,1000]
    // finalized, open session at 3000. batch 1: t=2700s — bridgeable to the
    // open start (300 s) but ALSO within gap of the finalized end (1700 s ≤
    // 1800): batch semantics would have merged everything into one session,
    // which Append mode cannot retract → the query must fail loudly.
    val ex = intercept[Throwable] {
      sessionizeTwoBatches(Seq((1L, 1000L, 1L), (1L, 3000L, 2L)), Seq((1L, 2700L, 3L)))
    }
    assert(contractViolation(ex), s"expected contract violation, got: $ex")
  }

  test("arrival beyond gap before the open start fails the exactness contract") {
    // batch 0: open session at t=10000s (nothing finalized). batch 1:
    // t=5000s — 5000 s before the open start, no bridge: batch semantics
    // would insert a NEW session before an already-numbered one.
    val ex = intercept[Throwable] {
      sessionizeTwoBatches(Seq((1L, 10000L, 1L)), Seq((1L, 5000L, 2L)))
    }
    assert(contractViolation(ex), s"expected contract violation, got: $ex")
  }

  test("multi-batch streaming incremental agg equals the full recompute (monoid fold)") {
    import java.nio.file.{Files, StandardCopyOption}
    import org.apache.spark.sql.functions._
    // two files -> maxFilesPerTrigger=1 forces two deltas; most months get
    // contributions from BOTH batches, so the fold must actually merge
    val o = Tables.orders(spark, sfDir)
    val dir = tempDir("graft_inc_mb")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft_inc_w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    writeHalf(o.filter(col("o_orderkey") % 2 === 0), "a.parquet")
    writeHalf(o.filter(col("o_orderkey") % 2 === 1), "b.parquet")
    val streamed = graft.streaming.StreamingIncremental.monthlyOrderStateFrom(
        spark, dir.toString, schemaFrom = dir.resolve("a.parquet").toString,
        glob = "*.parquet", maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSet
    val full = graft.streaming.StreamingIncremental.monthlyOrderState(spark, sfDir)
      .collect().map(_.toSeq).toSet
    assert(streamed === full)
    assert(full.nonEmpty)
  }

  test("watermark-bounded dedup: a key recurring after eviction re-emits (the weakened contract)") {
    import java.nio.file.{Files, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import java.sql.Date
    import spark.implicits._
    // delay 30 days. Measured Spark 4.1.2 eviction timing (see the
    // boundedDedupDrain docstring): expired dedup state is only evicted in
    // the trailing NO-DATA batch the engine schedules once the watermark
    // advanced — never mid-run while data batches remain — and a suppressed
    // duplicate EXTENDS its entry's expiry. So within one AvailableNow run
    // a recurrence can never observe eviction; the loss case needs TWO
    // checkpointed runs.
    // Key 1 starts at day 1, NOT day 0: the late-event filter drops rows
    // with eventTime <= watermark, and the initial watermark is epoch 0 —
    // a day-0 row never even enters state.
    // Run 1: key 1 @ day 1 (emits, expiry day 31), key 2 @ day 2000
    //   (emits; end-of-batch watermark day 1970) -> terminal no-data batch
    //   EVICTS key 1.
    // Run 2 (same checkpoint): key 1 @ day 3000 -> no state entry ->
    //   RE-EMITS. Across runs key 1 appears TWICE — the price of bounded
    //   state, and why distinctCustomersBounded deduplicates before the
    //   DISTINCT oracle.
    val dir = tempDir("graft_wm")
    def writeFile(rows: Seq[(Long, Date)], name: String, mtimeMs: Long): Unit = {
      val tmp = tempDir("graft_wm_w")
      rows.toDF("o_custkey", "o_orderdate").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      val dst = dir.resolve(name)
      Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(mtimeMs))
    }
    def day(d: Int) = new Date(d * 86400000L)
    writeFile(Seq((1L, day(1))), "a.parquet", 1000000000000L)
    writeFile(Seq((2L, day(2000))), "b.parquet", 1000000100000L)
    val ckpt = tempDir("graft_wm_ckpt").toString
    val out = tempDir("graft_wm_out").toString
    def drainRun() = graft.streaming.StreamingAgg.boundedDedupDrain(
        spark, dir.toString, schemaFrom = dir.resolve("a.parquet").toString,
        glob = "*.parquet", delay = "30 days", maxFilesPerTrigger = Some(1),
        fileSink = Some((out, ckpt)))
      .collect().map(_.getLong(0)).toSeq.sorted
    val run1 = drainRun()
    assert(run1 === Seq(1L, 2L)) // first residency of key 1; then evicted
    writeFile(Seq((1L, day(3000))), "c.parquet", 1000000200000L)
    val all = drainRun() // the file sink accumulates: run-1 rows + run 2's
    assert(all === Seq(1L, 1L, 2L)) // key 1 RE-EMITS after eviction
  }

  test("multi-batch streaming drift gate equals the batch driftGate (monoid count fold)") {
    import java.nio.file.{Files, StandardCopyOption}
    import org.apache.spark.sql.functions._
    // split customer into two files -> maxFilesPerTrigger=1 forces two
    // deltas; most nations get counts from BOTH batches, so the fold must
    // actually merge before the z-gate
    val c = Tables.customer(spark, sfDir)
    val dir = tempDir("graft_drift_mb")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft_drift_w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    writeHalf(c.filter(col("c_custkey") % 2 === 0), "a.parquet")
    writeHalf(c.filter(col("c_custkey") % 2 === 1), "b.parquet")
    val streamed = graft.streaming.StreamingDrift.nationDriftGateFrom(
        spark, dir.toString, schemaFrom = dir.resolve("a.parquet").toString,
        glob = "*.parquet", maxFilesPerTrigger = Some(1), zMax = 3.0)
      .collect().map(_.toSeq)
    val next = c.filter(!(col("c_nationkey") === 13 && col("c_custkey") % 2 === 0))
    val batch = graft.operators.Validate.driftGate(c, next, "c_nationkey", zMax = 3.0)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.nonEmpty)
  }

  test("streaming substring probe equals the equivalent batch window join") {
    import graft.operators.Dedup
    import org.apache.spark.sql.functions._
    val cap = 300
    val streamed = graft.streaming.StreamingSubstr.deltaSubstrSpans(spark, sfDir, cap)
      .collect().map(_.toSeq)
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < cap)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val delta  = docs.filter(col("doc_id") % 10 === 0)
    val index = Dedup.anchoredWindows(corpus, "doc_id", "text", 50, 8)
      .select("win").distinct()
    val batch = Dedup.mergeWindowIntervals(
        Dedup.anchoredWindows(delta, "doc_id", "text", 50, 8)
          .join(index, Seq("win")).select(col("doc_id"), col("pos")).distinct(),
        "doc_id", 50)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.nonEmpty)
  }

  test("streaming IVF-PQ probe equals the batch pqTopK row-for-row") {
    import graft.operators.AnnIndex
    import org.apache.spark.sql.functions._
    // untrained (deterministic first-rows) codebooks: the equality under
    // test is stream-vs-batch topology, not codebook quality
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val batch = AnnIndex.pqTopK(queries, "q_id", "q_vec",
        emb.withColumnRenamed("vec_id", "c_id"), "c_id", "embedding",
        k = 3, m = 16, ksub = 16, dim = 64, nlist = 16, nprobe = 4)
      .collect().map(_.toSeq)
    val streamed = graft.streaming.StreamingAnn.pqProbeTopK(spark, sfDir,
        k = 3, m = 16, ksub = 16, dim = 64, nlist = 16, nprobe = 4)
      .collect().map(_.toSeq)
    assert(streamed.toSeq === batch.toSeq)
    assert(batch.nonEmpty)
  }

  test("streaming monthly order stats equals batch aggregation") {
    import org.apache.spark.sql.functions._
    import graft.functions.MathFunctions.floorRound
    val stream = StreamingAgg.monthlyOrderStats(spark, sfDir).collect().map(_.toSeq).toSet
    val batch = Tables.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), floorRound(sum("o_totalprice"), 2).as("total"))
      .collect().map(_.toSeq).toSet
    assert(stream === batch)
    assert(batch.nonEmpty)
  }

  test("watermarked windowed counts emit finalized windows") {
    val rows = Sessionize.windowedCounts(spark, sfDir).collect()
    assert(rows.nonEmpty) // no-data batch finalizes watermark-passed windows
    assert(rows.map(_.getLong(1)).forall(_ > 0))
  }

  test("multi-batch streaming HLL equals the batch sketch (register max commutes)") {
    import java.nio.file.{Files, StandardCopyOption}
    import org.apache.spark.sql.functions._
    // two files -> maxFilesPerTrigger=1 forces two micro-batches; keys are
    // split arbitrarily (odd/even), so most registers see updates from BOTH
    // batches and the final state must still equal the one-pass batch sketch
    val ev = Tables.events(spark, sfDir).select("event_id")
    val dir = tempDir("graft_hll_mb")
    def writeHalf(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = tempDir("graft_hll_w")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
      Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
    }
    writeHalf(ev.filter(col("event_id") % 2 === 0), "a.parquet")
    writeHalf(ev.filter(col("event_id") % 2 === 1), "b.parquet")
    val streamed = graft.streaming.StreamingSketch.hllDistinctFrom(
      spark, dir.toString, glob = "*.parquet",
      schemaFrom = dir.resolve("a.parquet").toString,
      keyCol = "event_id", p = 9, maxFilesPerTrigger = Some(1))
      .head.toSeq
    val batch = graft.operators.Sketches.hllDistinct(ev, "event_id", p = 9).head.toSeq
    assert(streamed === batch)
  }

  test("mergeCountDelta: keyed state-table fold is idempotent under batch replay") {
    import spark.implicits._
    val statePath = tempDir("graft_merge_state").resolve("st").toString
    def delta(rows: (Long, Long)*) = rows.toSeq.toDF("g", "next_n")
    def snapshot(): Map[Long, Long] = spark.read.parquet(statePath)
      .collect().map(r => r.getAs[Long]("g") -> r.getAs[Long]("next_n")).toMap
    graft.streaming.StreamingDrift.mergeCountDelta(spark, statePath, delta(1L -> 5L, 2L -> 3L), 0L)
    graft.streaming.StreamingDrift.mergeCountDelta(spark, statePath, delta(1L -> 2L, 3L -> 7L), 1L)
    val after = snapshot()
    assert(after === Map(1L -> 7L, 2L -> 3L, 3L -> 7L))
    // at-least-once retry of an already-applied batch must be a no-op
    graft.streaming.StreamingDrift.mergeCountDelta(spark, statePath, delta(1L -> 2L, 3L -> 7L), 1L)
    assert(snapshot() === after)
    // and a stale batch (id below the marker) must also be skipped
    graft.streaming.StreamingDrift.mergeCountDelta(spark, statePath, delta(9L -> 9L), 0L)
    assert(snapshot() === after)
  }

  test("stream-maintained near-dup hits ≡ batch rebuild, idempotent under replay") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // planted corpus: train (id % 5 != 0) with two docs the test side near-
    // duplicates, test (id % 5 == 0) split across the two planned batches
    // (id % 10 = 0 and = 5) — both batches must contribute hits
    val texts = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again tonight",
      2L -> "pack my box with five dozen liquor jugs before the long journey home",
      3L -> "completely unrelated training text about distributed query processing engines",
      0L -> "the quick brown fox jumps over the lazy dog again and again today",
      5L -> "pack my box with five dozen liquor jugs before the long journey away",
      10L -> "nothing here resembles anything in the training corpus at all truly")
    val docs = texts.toDF("doc_id", "text")
    val dir = tempDir("graft_stream_fixture").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run() = graft.streaming.StreamingDedup
      .streamMaintainedNearDupHits(spark, dir, shingleSize = 3, numHashes = 32,
        bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val first = run()
    val batch = graft.operators.Dedup.crossCorpusNearDupPairs(
        docs.filter(col("doc_id") % 5 =!= 0), docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(first === batch)
    assert(first.map(_._1).toSet === Set(0L, 5L), "both ingest batches must land hits")
    // a REPLAYED stream over the live artifact (fresh checkpoint, same
    // content keys) must skip every append and read back the same index
    val second = run()
    assert(second === first)
  }

  test("streamPackedOffsets ≡ batch global pack, idempotent under replay") {
    import spark.implicits._
    val texts = Seq(
      1L -> "a b c d e", 2L -> "f g h i j k l", 3L -> "m n o p",
      4L -> "q r s", 5L -> "t u v w x y", 6L -> "z a b c")
    val dir = tempDir("graft_stream_pack").toString
    val staging = s"$dir/__stage"
    texts.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    def run() = graft.streaming.StreamingPacking.streamPackedOffsets(spark, dir, seqLen = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val first = run()
    // batch truth: global exclusive cumsum in doc order at seqLen 6
    val lens = texts.map { case (id, t) => id -> t.split(' ').length.toLong }
    val offs = lens.scanLeft(0L)(_ + _._2).init
    val expected = lens.zip(offs).map { case ((id, n), off) =>
      (id, n, off, off / 6, off % 6) }
    assert(first === expected)
    // replay over the live artifact: every append skips, same result
    assert(run() === first)
  }

  test("streamShardManifest ≡ batch manifest, idempotent under replay") {
    import spark.implicits._
    val texts = Seq(
      (1L, "a b c d e", "web"), (2L, "f g h i j k l", "web"),
      (3L, "m n o p", "book"), (4L, "q r s", "web"),
      (5L, "t u v w x y", "book"), (6L, "z a b c", "web"))
    val dir = tempDir("graft_stream_manifest").toString
    val staging = s"$dir/__stage"
    texts.toDF("doc_id", "text", "source").coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    def run() = graft.streaming.StreamingExport.streamShardManifest(spark, dir, shardTokenBudget = 6L)
      .collect().toSeq
    val first = run()
    // stream-maintained must equal the one-shot batch manifest row for row
    val batch = graft.operators.Export.shardManifest(
      Tables.documents(spark, dir), "doc_id", "text", "source",
      shardTokenBudget = 6L).collect().toSeq
    assert(first === batch)
    assert(first.map(_.getAs[Long]("n_docs")).sum === texts.size.toLong)
    // replay over the live artifact: every append skips, same manifest
    assert(run() === first)
  }

  test("streamPurge: micro-batched tombstones ≡ one-shot purge, idempotent under replay") {
    import spark.implicits._
    import graft.pipeline.{ArtifactStore, IndexErasure}
    // two identical hits artifacts: one purged by the stream, one one-shot
    def seed(): String = {
      val root = tempDir("graft_erasure").resolve("hits").toString
      ArtifactStore.appendBatchIfAbsent(spark, root, 0L)(
        Seq((1L, 10L), (2L, 11L), (3L, 10L)).toDF("test_id", "train_id"))
      ArtifactStore.appendBatchIfAbsent(spark, root, 1L)(
        Seq((4L, 10L), (4L, 12L), (5L, 13L)).toDF("test_id", "train_id"))
      root
    }
    // tombstones {4, 11} split across TWO micro-batches by id parity
    val tomb = Seq(4L, 11L).toDF("doc_id")
    val streamedRoot = seed()
    graft.streaming.StreamingErasure.streamPurge(spark, streamedRoot,
      Seq("test_id", "train_id"), "doc_id", tomb, nBatches = 2)
    val oneShotRoot = seed()
    IndexErasure.purgeBatches(spark, oneShotRoot,
      Seq("test_id", "train_id"), tomb, "doc_id")
    def content(root: String) = ArtifactStore.readBatches(spark, root)
      .as[(Long, Long)].collect().toSet
    assert(content(streamedRoot) === Set((1L, 10L), (3L, 10L), (5L, 13L)))
    assert(content(streamedRoot) === content(oneShotRoot),
      "streamed purge must equal the one-shot purge")
    // replayed stream (fresh checkpoint, same tombstones): removes nothing
    graft.streaming.StreamingErasure.streamPurge(spark, streamedRoot,
      Seq("test_id", "train_id"), "doc_id", tomb, nBatches = 2)
    assert(content(streamedRoot) === Set((1L, 10L), (3L, 10L), (5L, 13L)))
  }

  test("streamCrossModalGate: semantic axis flags the bag-of-words dup the shingle probe misses") {
    import spark.implicits._
    // corpus (id % 10 != 0) vs streamed delta (id % 10 == 0): doc 20 is a
    // token REORDER of corpus doc 1 — identical raw bucket counts (cosine
    // exactly 1.0) but order-sensitive trigram shingles, so only the
    // semantic branch can flag it; doc 10 is an exact copy (every branch
    // sees it, 'exact' wins); doc 30 is clean
    val base = "the quick brown fox jumps over the lazy dog again and again tonight"
    val texts = Seq(
      1L -> base,
      2L -> "pack my box with five dozen liquor jugs before the long journey home",
      10L -> base,
      20L -> base.split(' ').reverse.mkString(" "),
      30L -> "nothing here resembles anything in the standing corpus at all truly")
    val dir = tempDir("graft_stream_xmodal").toString
    // streamTable globs the literal file name, so the fixture must be a
    // single FILE like the driver-written tables, not a Spark directory
    val staging = s"$dir/__stage"
    texts.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new java.io.File(staging).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val v = graft.streaming.StreamingDedup.streamCrossModalGate(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4), r.getString(5))).toMap
    assert(v(10L)._1._1 === 1L && v(10L)._3 === "exact")
    assert(v(20L)._1 === ((0L, 0L, 1L)) && v(20L)._3 === "semantic",
      "pure reorder must be semantic-only evidence")
    assert(v(30L) === (((0L, 0L, 0L), 0L, "keep")))
  }

  test("drain drops its memory-sink view and the frame keeps the drained rows") {
    import org.apache.spark.sql.functions._
    import graft.functions.MathFunctions.floorRound
    val stream = StreamingAgg.monthlyOrderStats(spark, sfDir)
    assert(spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_monthly")).isEmpty,
      "a drain must not leave its sink view in the session catalog")
    val batch = Tables.orders(spark, sfDir)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"), floorRound(sum("o_totalprice"), 2).as("total"))
      .collect().map(_.toSeq).toSet
    assert(stream.collect().map(_.toSeq).toSet === batch)
    assert(batch.nonEmpty)
  }

  test("drain restores spark.sql.shuffle.partitions when the stream fails") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.StreamingQueryException
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "8", "the drain's state-partition override must be observable")
    val boom = udf((k: Long) => if (k >= 0) throw new IllegalStateException("boom") else k)
    def failing = StreamingAgg.streamTable(spark, sfDir, "orders.parquet")
      .select(boom(col("o_orderkey")).as("k"))
    intercept[StreamingQueryException] {
      StreamingAgg.drain(failing, "graft_spec_failing", "append")
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
    assert(spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_spec_failing")).isEmpty)
    val root = tempDir("graft_spec_failing")
    val sink = Some((root.resolve("out").toString, root.resolve("ckpt").toString))
    intercept[StreamingQueryException] {
      StreamingAgg.drain(failing, "graft_spec_failing", "append", fileSink = sink)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") === before)
  }

  test("drainSeeded runs onBatch once per distinct non-empty batch key") {
    import org.apache.spark.sql.functions._
    // key 3 is a possible value of the batch column that no row takes
    val df = spark.range(0, 40).toDF().filter(col("id") % 4 =!= 3)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    StreamingAgg.drainSeeded(df, col("id") % 4, "graft_spec_seeded") { batch =>
      seen.add(batch.collect().map(_.getLong(0)).toSeq)
      ()
    }
    import scala.jdk.CollectionConverters._
    val batches = seen.asScala.toSeq
    assert(batches.size === 3)
    assert(batches.forall(b => b.map(_ % 4).distinct.size == 1),
      "every micro-batch holds exactly one batch key")
    assert(batches.flatten.sorted === df.collect().map(_.getLong(0)).toSeq.sorted)
  }

  test("drainSeeded rethrows a failing batch and deletes its seed root") {
    import org.apache.spark.sql.functions._
    val prefix = s"graft_spec_seedfail_${java.util.UUID.randomUUID().toString.take(8)}_"
    val e = intercept[Exception] {
      StreamingAgg.drainSeeded(spark.range(0, 10).toDF(), col("id") % 2, prefix) { _ =>
        throw new IllegalStateException("boom")
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")))
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    assert(tmp.listFiles().forall(!_.getName.startsWith(prefix)),
      "the seed temp root must not outlive a failed drain")
  }
}
