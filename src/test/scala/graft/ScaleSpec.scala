package graft

import graft.functions.expressions.L2NormSq
import graft.operators.Skew
import graft.sources.Bucketing
import org.apache.spark.sql.catalyst.expressions.Slice
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics tests: salting preserves join semantics; bucketed tables
  * join without a shuffle.
  */
class ScaleSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("saltedJoin returns exactly the plain join result (skewed key)") {
    // skew: 90% of left rows share key 1
    val left = ((1 to 900).map(i => (1L, i.toLong)) ++ (1 to 100).map(i => (i.toLong + 1, i.toLong)))
      .toDF("k", "v")
    val right = (1L to 101L).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain  = left.join(right, Seq("k")).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, "k", salt = 8).select("k", "v", "name")
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
    assert(plain.size === 1000)
  }

  test("knnJoin pre-reduces: partial top-k aggregate, no window over all pairs") {
    import graft.operators.TopK
    val corpus = (0L until 200L).map(i => (i, Array(math.cos(i * 0.1), math.sin(i * 0.1))))
      .toDF("c_id", "c_v")
    val queries = (0L until 5L).map(i => (i, Array(math.cos(i * 0.7), math.sin(i * 0.7))))
      .toDF("q_id", "q_v")
    val knn = TopK.knnJoin(queries, "q_id", "q_v", corpus, "c_id", "c_v", k = 4)
    val plan = knn.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected partial top-k aggregate in:\n$plan")
    assert(!plan.contains("Window"), s"expected no window over all scored pairs in:\n$plan")
    // semantics unchanged vs the window formulation (the generic-id path)
    val viaWindow = TopK.knnJoin(queries, "q_id", "q_v",
        corpus.withColumn("c_id", format_string("%d", $"c_id")), "c_id", "c_v", k = 4)
      .withColumn("c_id", $"c_id".cast("long"))
      .select("q_id", "c_id", "score", "rn").collect().map(_.toSeq).toSet
    val viaAgg = knn.select("q_id", "c_id", "score", "rn").collect().map(_.toSeq).toSet
    assert(viaAgg === viaWindow)
    assert(viaAgg.nonEmpty && viaAgg.size === 20) // 5 queries x k=4
  }

  test("single-query topK scores inside whole-stage codegen; the query is one literal") {
    import graft.operators.TopK
    val top = TopK.topK(vectorCorpus, "v", "id", Seq.tabulate(4)(i => 1.0 / (i + 1)), k = 3)
    val plan = executedOps(top)
    val scoring = plan.collect { case p: ProjectExec if holdsNorm(p) => p }
    assert(scoring.nonEmpty, s"expected a Project computing the norm in:\n${top.queryExecution.executedPlan}")
    val codegend = plan.collect { case w: WholeStageCodegenExec => stageOps(w.child) }.flatten
    scoring.foreach(p => assert(codegend.exists(_ eq p),
      s"scoring Project runs outside whole-stage codegen in:\n${top.queryExecution.executedPlan}"))
    assert(fallbacks(plan).isEmpty,
      s"CodegenFallback expressions ${fallbacks(plan)} in:\n${top.queryExecution.executedPlan}")
    // The query vector adds the same number of expression nodes at any
    // dimension. Counted on the analyzed plan: the optimizer would fold an
    // array of 1536 literals into one literal too, but only after every
    // analysis and optimizer pass before the fold has walked all 1536.
    def exprNodes(dim: Int): Int =
      TopK.topK(vectorCorpus, "v", "id", Seq.tabulate(dim)(i => 1.0 / (i + 1)), k = 3)
        .queryExecution.analyzed.collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    assert(exprNodes(1536) === exprNodes(4))
  }

  test("knnJoin norm projections hold no CodegenFallback; the corpus vector is copied once per row") {
    import graft.operators.TopK
    val corpus  = vectorCorpus.select($"id".as("c_id"), $"v".as("c_v"))
    val queries = vectorCorpus.filter($"id" < 5).select($"id".as("q_id"), $"v".as("q_v"))
    val knn = TopK.knnJoin(queries, "q_id", "q_v", corpus, "c_id", "c_v", k = 4)
    val plan  = executedOps(knn)
    val norms = plan.collect { case p: ProjectExec if holdsNorm(p) => p }
    assert(norms.size === 2, s"expected one norm Project per side in:\n${knn.queryExecution.executedPlan}")
    assert(fallbacks(norms).isEmpty,
      s"CodegenFallback expressions ${fallbacks(norms)} in:\n${knn.queryExecution.executedPlan}")
    // the pair loop reads a per-row copy of the corpus vector, not the
    // scan's columnar batch (decoded again per pair when dictionary-encoded)
    assert(plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[Slice]))),
      s"expected the corpus vector copied once per row in:\n${knn.queryExecution.executedPlan}")
  }

  /** 50 four-dim vectors in parquet: over a local relation the optimizer
    * would evaluate the projections itself and no ProjectExec would remain. */
  private lazy val vectorCorpus = {
    val dir = java.nio.file.Files.createTempDirectory("graft_vec_plan").resolve("corpus").toString
    val rnd = new scala.util.Random(5)
    (0L until 50L).map(i => (i, Array.fill(4)(rnd.nextGaussian()))).toDF("id", "v")
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** Every operator of `df`'s executed plan, after running it so that the
    * adaptive plan is final, including those inside query stages. */
  private def executedOps(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] = {
    df.collect()
    def ops(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => ops(a.executedPlan)
      case q: QueryStageExec        => q +: ops(q.plan)
      case _                        => p +: p.children.flatMap(ops)
    }
    ops(df.queryExecution.executedPlan)
  }

  /** The operators of one whole-stage-codegen stage: down to its inputs. */
  private def stageOps(p: SparkPlan): Seq[SparkPlan] = p match {
    case _: InputAdapter => Nil
    case _               => p +: p.children.flatMap(stageOps)
  }

  private def holdsNorm(p: SparkPlan): Boolean =
    p.expressions.exists(_.exists(_.isInstanceOf[L2NormSq]))

  private def fallbacks(ops: Seq[SparkPlan]): Seq[String] =
    ops.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName }))

  test("capPerKey pre-reduces map-side: WindowGroupLimit before the exchange") {
    import graft.operators.Curation
    val df = (1L to 500L).map(i => (s"k${i % 3}", i, i % 17)).toDF("k", "id", "v")
      .repartition(5)
    val capped = Curation.capPerKey(df, "k", Seq(col("v").desc, col("id")), n = 4)
    val plan = capped.queryExecution.executedPlan.toString
    // InferWindowGroupLimit must fire: each map partition forwards at most n
    // rows per key, bounding the hot-key reducer at n·numPartitions rows
    // InferWindowGroupLimit emits a Partial (map-side, pre-shuffle) and a
    // Final (post-shuffle) group limit — the Partial is the pre-reduce
    assert("""WindowGroupLimit .*Partial""".r.findFirstIn(plan).isDefined,
      s"expected a map-side (Partial) WindowGroupLimit in:\n$plan")
    assert("""WindowGroupLimit .*Final""".r.findFirstIn(plan).isDefined,
      s"expected the post-shuffle (Final) WindowGroupLimit in:\n$plan")
  }

  test("decontaminate plans as broadcast joins — the corpus never shuffles") {
    import graft.operators.Decontaminate
    val corpus = (0L until 50L).map(i => (i, s"w$i x$i y$i z$i q$i")).toDF("doc_id", "text")
    val bench  = Seq((99L, "w7 x7 y7 z7 q7")).toDF("doc_id", "text")
    val plan = Decontaminate.decontaminate(corpus, "doc_id", "text", bench, "text", 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected broadcast semi join in:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected anti join in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus must not shuffle for a join in:\n$plan")
  }

  test("packBins windows per shard — no single-partition global sort") {
    import graft.operators.Packing
    val docs = (0L until 100L).map(i => (i, s"s${i % 4}", 100L + i % 7)).toDF("doc_id", "shard", "n_tokens")
    val packed = Packing.packBins(docs, "shard", "doc_id", "n_tokens", capacity = 512)
    val plan = packed.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"expected window in:\n$plan")
    assert(!plan.contains("SinglePartition"), s"global window would serialize the corpus:\n$plan")
    // packing semantics: offsets advance by doc length, bins roll at capacity
    val s0 = packed.filter($"shard" === "s0").orderBy("doc_id")
      .select("n_tokens", "bin_id", "bin_offset").collect()
    var start = 0L
    s0.foreach { r =>
      assert(r.getLong(1) === start / 512 && r.getLong(2) === start % 512)
      start += r.getLong(0)
    }
  }

  test("heavyHitters surfaces the hot key") {
    val left = ((1 to 900).map(i => (1L, i)) ++ (1 to 100).map(i => (i.toLong + 1, i))).toDF("k", "v")
    val top = Skew.heavyHitters(left, col("k"), 1).head
    assert(top.getLong(0) === 1L && top.getLong(1) === 900L)
  }

  test("partitioned sink: filters prune partitions at the scan") {
    import graft.sources.PartitionedSink
    val out = java.nio.file.Files.createTempDirectory("graft_part").resolve("events").toString
    PartitionedSink.writePartitioned(
      Tables.events(spark, sfDir).select("event_id", "user_id", "value", "event_type"),
      out, Seq("event_type"))
    val pruned = spark.read.parquet(out).filter(col("event_type") === "error")
    assert(PartitionedSink.isPartitionPruned(pruned),
      pruned.queryExecution.executedPlan.toString.take(2000))
    val want = Tables.events(spark, sfDir).filter(col("event_type") === "error").count()
    assert(pruned.count() === want)
  }

  test("bucketed co-located join plans without a shuffle") {
    val o = Tables.orders(spark, sfDir).select("o_orderkey", "o_custkey", "o_totalprice")
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_name")
    Bucketing.writeBucketed(o, "orders_b", "o_custkey", 4)
    Bucketing.writeBucketed(c.withColumnRenamed("c_custkey", "o_custkey"), "customer_b", "o_custkey", 4)
    val joined = spark.table("orders_b").join(spark.table("customer_b"), Seq("o_custkey"))
    val agg = joined.groupBy("o_custkey").agg(sum("o_totalprice"))
    assert(Bucketing.isShuffleFree(joined), joined.queryExecution.executedPlan.toString)
    assert(Bucketing.isShuffleFree(agg), "groupBy on bucket key should reuse bucketing")
    // and the result is correct
    assert(joined.count() === o.count())
  }

  test("prefixJaccardJoin: candidate generation is an equi-join — no cartesian in the plan") {
    import graft.operators.Dedup
    val docs = (0L until 60L).map(i => (i, s"alpha beta gamma delta t$i u${i % 7} end"))
      .toDF("doc_id", "text")
    val plan = Dedup.prefixJaccardJoin(docs, "doc_id", "text", 3, 0.4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"prefix join must never fall back to all-pairs:\n${plan.take(2000)}")
  }

  test("materializeThenRelease: operator-internal caches do not outlive a one-shot evaluation") {
    import graft.operators.{Caching, Dedup}
    val docs = (0L until 30L).map(i => (i, s"alpha beta gamma delta body t${i % 5} u${i % 3} end"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val n = Caching.materializeThenRelease(spark)(
      Dedup.jaccardPairsExact(docs, "doc_id", "text", 3, 0.2))(_.count())
    assert(n > 0) // the evaluation really ran (and really pinned the cache)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"persistent RDDs leaked past the evaluation: $leaked")
  }

  test("exactSubstrSpans: window matching is an equi-join — no cartesian in the plan") {
    import graft.operators.Dedup
    val docs = (0L until 40L).map(i => (i, ("x" * 30) + s"doc $i body " + ("y" * 40)))
      .toDF("doc_id", "text")
    val plan = Dedup.exactSubstrSpans(docs, "doc_id", "text", minLen = 20)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"exact-substring matching must never fall back to all-pairs:\n${plan.take(2000)}")
    // same guarantee on the anchor-sampled scale path
    val aplan = Dedup.anchorSubstrSpans(docs, "doc_id", "text", minLen = 20, anchorEvery = 4)
      .queryExecution.executedPlan.toString
    assert(!aplan.contains("CartesianProduct") && !aplan.contains("BroadcastNestedLoopJoin"),
      s"anchored matching must never fall back to all-pairs:\n${aplan.take(2000)}")
    // and on the fingerprint-keyed path
    val fplan = Dedup.fpSubstrSpans(docs, "doc_id", "text", minLen = 20)
      .queryExecution.executedPlan.toString
    assert(!fplan.contains("CartesianProduct") && !fplan.contains("BroadcastNestedLoopJoin"),
      s"fingerprint matching must never fall back to all-pairs:\n${fplan.take(2000)}")
  }

  test("mediaDupPairs: perceptual pairing is a band equi-join — no all-pairs, blobs never join") {
    import graft.multimodal.Multimodal
    val blobs = (0L until 50L).map(i => (i, s"media blob body $i " * 20)).toDF("id", "m")
    val plan = Multimodal.mediaDupPairs(blobs, "id", "m", maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"media pairing must never fall back to all-pairs:\n${plan.take(2000)}")
    // the curation chain inherits the same guarantee
    val docs = (0L until 40L).map(i => (i, "cap " * 25, s"payload $i " * 30, "s"))
      .toDF("id", "caption", "m", "source")
    val cplan = Multimodal.curateMedia(spark, docs, frameBytes = 64,
        minCaptionTokens = 5, minFrames = 1, maxDupFrameRatio = 1.0,
        maxHamming = 3, idCol = "id", textCol = "caption", mediaCol = "m")
      .queryExecution.executedPlan.toString
    assert(!cplan.contains("CartesianProduct") && !cplan.contains("BroadcastNestedLoopJoin"),
      s"media curation must never fall back to all-pairs:\n${cplan.take(2000)}")
    // frame alignment: candidates come from the checksum equi-join only
    val media = (0L until 30L).map(i => (i, s"frame payload $i " * 20)).toDF("doc_id", "m")
    val fplan = Multimodal.frameAlignSpans(spark, media, frameBytes = 64, minRun = 2,
        maxDf = Some(10))
      .queryExecution.executedPlan.toString
    assert(!fplan.contains("CartesianProduct") && !fplan.contains("BroadcastNestedLoopJoin"),
      s"frame alignment must never fall back to all-pairs:\n${fplan.take(2000)}")
    val pplan = Multimodal.frameAlignSpansPerceptual(spark, media, frameBytes = 64,
        minRun = 2, maxHamming = 3, maxDf = Some(10))
      .queryExecution.executedPlan.toString
    assert(!pplan.contains("CartesianProduct") && !pplan.contains("BroadcastNestedLoopJoin"),
      s"perceptual frame alignment must never fall back to all-pairs:\n${pplan.take(2000)}")
  }

  test("driftHistoryGate: snapshots never pairwise join — keyed joins only") {
    import graft.operators.Validate
    val snaps = (0 until 5).map(i =>
      (0L until (20L + i)).map(v => v % 7).toDF("g"))
    val plan = Validate.driftHistoryGate(snaps, "g")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"history gate must stay keyed:\n${plan.take(2000)}")
  }

  test("eraseUsers: every table joins the request list broadcast — fact side never shuffles") {
    import graft.operators.Cleaning
    val events = (1L to 400L).map(i => (i % 50, i)).toDF("user_id", "event_id")
    val req = Seq(1L, 2L, 3L).toDF("user_id")
    val audit = Cleaning.eraseUsers(req, "user_id", Seq("events" -> (events, "user_id")))
    val plan = audit.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin"), s"fact table must not shuffle for the join:\n${plan.take(2000)}")
  }

  test("q127 skip-gram top-k is a bounded aggregate — no rank window over the pair-count table") {
    // a Window.partitionBy(d) with 2 distinct values would funnel the whole
    // vocab²-bounded count table through 2 tasks; the TopKGramsAgg path
    // pre-reduces map-side inside ObjectHashAggregate
    val plan = SparkEntry.queries("q127_skipgram_pairs")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected bounded top-k aggregate in:\n${plan.take(3000)}")
    assert(!plan.contains("Window"),
      s"expected no rank window over the pair-count table in:\n${plan.take(3000)}")
  }

  test("q134 coverage curve ranks over a TakeOrderedAndProject head, not the full gram table") {
    // the rank/cumsum window is single-partition BY CONSTRUCTION (over a
    // 1000-row top-k head) — assert the bounded head is in the plan and the
    // window sits above it, so the window never sees the full distinct-gram
    // table
    val plan = SparkEntry.queries("q134_ngram_coverage")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected parallel partial top-k (TakeOrderedAndProject) in:\n${plan.take(3000)}")
    val wi = plan.indexOf("Window")
    val ti = plan.indexOf("TakeOrderedAndProject")
    assert(wi >= 0 && ti > wi,
      s"expected the window ABOVE the bounded top-k head (window at $wi, head at $ti):\n${plan.take(3000)}")
  }

  test("blockZoneMaps: in-plan offsets give exact global ranks (equals single-window reference), nothing stays persisted") {
    import graft.operators.Layout
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    // spans multiple range partitions (4 shuffle partitions in tests), input
    // arbitrarily pre-partitioned
    val grid = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x * 64 + y, x, y))
      .toDF("k", "x", "y").repartition(7)
    val got = Layout.zorderAudit(grid, "k", "x", "y", blockRows = 128)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // reference: identical audit arithmetic with ranks from a TRUE global
    // row_number (test-only single-partition window)
    val z = grid.select($"k", $"x", $"y", Layout.zValue16($"x", $"y").as("z"))
    def ref(layout: String, order: Seq[org.apache.spark.sql.Column]) = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
      val r = z.withColumn("__rn", row_number().over(w).cast("long"))
        .withColumn("__blk", (($"__rn" - 1) / 128).cast("long"))
        .groupBy("__blk")
        .agg((max("x") - min("x")).as("xs"), (max("y") - min("y")).as("ys"))
        .agg(count(lit(1)).cast("long").as("nb"), sum("xs").cast("long").as("sx"),
          sum("ys").cast("long").as("sy")).head
      def fr(v: Double) = math.floor(v * 1e4) / 1e4
      layout -> ((r.getLong(0), fr(r.getLong(1).toDouble / r.getLong(0)),
        fr(r.getLong(2).toDouble / r.getLong(0))))
    }
    assert(got === Map(ref("natural", Seq($"k")), ref("zorder", Seq($"z", $"k"))))
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(persistedBefore),
      "blockZoneMaps must not leave persisted RDDs behind")
  }

  test("q98/q107 layout plans: no single-partition window or exchange, no cartesian") {
    Seq("q98_zorder_audit", "q107_pruning_sim").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"$q: a single-partition window/exchange would serialize the table:\n${plan.take(3000)}")
      assert(!plan.contains("CartesianProduct"),
        s"$q: unexpected cartesian product:\n${plan.take(3000)}")
    }
  }

  test("q140 filtered ANN: candidates via cell equi-join over the filtered corpus — no all-pairs") {
    val plan = SparkEntry.queries("q140_filtered_ann")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"filtered ANN must stay keyed on the coarse cell:\n${plan.take(3000)}")
  }

  test("sorted parquet write: row-group stats prune a selective value filter at the scan") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // value-sorted layout + small row groups = tight per-group min/max; the
    // pushed-down predicate then skips most groups INSIDE the files — the
    // file-level analog of Layout.zorderAudit's block spans, proven against
    // the actual scan metric rather than claimed
    val out = java.nio.file.Files.createTempDirectory("graft_rg").resolve("ev").toString
    // enough rows for many row groups (the sf0.001 fixtures fit in one)
    val total = 200000L
    val ev = spark.range(total).select($"id".as("event_id"), $"id".cast("double").as("value"))
    ev.orderBy("value").coalesce(1)
      .write.option("parquet.block.size", 64 * 1024)
      .mode("overwrite").parquet(out)
    val hi = total * 0.99
    val scanned = spark.read.parquet(out).filter(col("value") >= hi)
    // execute THIS queryExecution (count() would build its own, whose
    // metrics this instance never sees)
    val matched = scanned.collect().length.toLong
    val scanExec = scanned.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }.head
    assert(scanExec.metadata("PushedFilters").contains("GreaterThanOrEqual"),
      s"filter must reach the parquet scan: ${scanExec.metadata("PushedFilters")}")
    val rowsRead = scanExec.metrics("numOutputRows").value
    assert(matched <= rowsRead && rowsRead < total / 5,
      s"expected row-group skipping: read $rowsRead of $total rows for $matched matches")
  }

  test("q135 IVF-PQ: candidates via cell equi-join — no all-pairs in the plan") {
    val plan = SparkEntry.queries("q135_pq_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"PQ candidate generation must be keyed on the coarse cell:\n${plan.take(3000)}")
  }

  test("HLL register stage is map-only: the only exchange is the m-bounded bucket aggregate") {
    import graft.operators.Sketches
    val regs = Sketches.hllRegisterStage(spark.range(0, 5000).toDF("k"), "k", p = 9)
    assert(!regs.queryExecution.executedPlan.toString.contains("Exchange"),
      "register computation must not shuffle")
    val sketch = Sketches.hllDistinct(spark.range(0, 5000).toDF("k"), "k", p = 9)
    assert(sketch.head.getAs[Long]("exact_distinct") === 5000L)
  }

  test("salted band joins: identical output on a hot-bucket corpus (all three sites)") {
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    // 120 byte-identical "viral" blobs (one hot band bucket per band) + a
    // quiet unique background — the skew shape the salt exists for
    val corpus = spark.range(200).select(col("id"),
      when(col("id") < 120, concat(lit("VIRAL"), lit("x" * 300)))
        .otherwise(concat(md5(col("id").cast("string")), lit("y" * 40))).as("m"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(Multimodal.mediaDupPairs(corpus, "id", "m", maxHamming = 3, salts = 8))
      === rows(Multimodal.mediaDupPairs(corpus, "id", "m", maxHamming = 3)))
    assert(rows(Dedup.simhashPairs(corpus, "id", "m", maxHamming = 3, salts = 8))
      === rows(Dedup.simhashPairs(corpus, "id", "m", maxHamming = 3)))
    val media = spark.range(40).select(col("id"),
      when(col("id") < 25, lit("F" * 256)).otherwise(concat(md5(col("id").cast("string")), lit("z" * 200))).as("m"))
    assert(rows(Multimodal.frameAlignSpansPerceptual(spark, media, frameBytes = 64,
        minRun = 2, maxHamming = 3, idCol = "id", salts = 8))
      === rows(Multimodal.frameAlignSpansPerceptual(spark, media, frameBytes = 64,
        minRun = 2, maxHamming = 3, idCol = "id")))
  }

  test("salted suffix-rank re-rank join: identical tables on a degenerate corpus " +
    "(r11 verdict task 4)") {
    import graft.operators.SuffixRank
    // the EdgeCaseSpec shape at scale: one massively repeated character, so
    // every early doubling round keys every position to the SAME (r, r2)
    // pair — the hot key the salt splits. A small unique tail keeps the
    // final ranks non-trivial.
    val corpus = spark.range(12).select(col("id"),
      concat(lit("a" * 60), md5(col("id").cast("string")).substr(1, 4)).as("t"))
    def table(saltRank: Int) =
      SuffixRank.rankTables(corpus, "id", "t", saltRank).last._2
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(table(4) === table(1), "salting must not change a single rank")
    // and the finish built on the salted family matches the unsalted one
    def dup(saltRank: Int) =
      SuffixRank.longestDupPrefix(spark, corpus, "id", "t", minLen = 8,
          saltRank = saltRank)
        .collect().map(_.toSeq).toSet
    assert(dup(4) === dup(1))
    assert(dup(1).nonEmpty, "the repeated prefix must surface as duplicates")
  }

  test("exact KS gate: no single-partition window anywhere in the plan") {
    import graft.operators.Validate
    // the whole point of Scan.cumSums is that the data-sized CDF never
    // funnels through Window.orderBy-with-no-partition; a regression would
    // reintroduce exactly that operator, so assert its absence
    val prev = spark.range(0, 2000).select((col("id") % 97).cast("double").as("v"))
    val next = spark.range(0, 2000).select((col("id") % 89).cast("double").as("v"))
    val gate = Validate.ksGate(prev, next, "v", threshold = 0.1, scanParts = 8)
    val plan = gate.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"exact KS must not plan a window:\n${plan.take(2000)}")
    assert(gate.head.getLong(1) === 2000L)
  }

  test("crossCorpusOverlap: candidate pairs come from SA neighbors — no cartesian") {
    import graft.operators.SuffixRank
    val train = (0L until 6L).map(i => (i, s"shared_fragment_$i common_tail piece")).toDF("doc_id", "t")
    val test = (0L until 3L).map(i => (i, s"probe_$i common_tail piece")).toDF("doc_id", "t")
    val df = SuffixRank.crossCorpusOverlap(spark, train, test, "doc_id", "t", minLen = 5, scanParts = 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus probe must never fall back to all-pairs:\n${plan.take(2000)}")
    // and the planted common tail is found from every test doc (several
    // positions inside the span qualify; the claim is per-doc coverage)
    assert(df.filter(col("lcp") >= lit(" common_tail piece".length))
      .select("doc_id").distinct().count() === 3L)
  }
}
