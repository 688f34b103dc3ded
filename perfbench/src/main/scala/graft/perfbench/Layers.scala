package graft.perfbench

import graft.perfbench.Workloads.{Env, Metrics, Work}

/** Per-layer metrics of a traced run. Layer totals are per traced round
  * (a sync cycle or a search round); `operators.TopK` figures are per
  * search call; `ingest.*` figures come from the set-up's cold ingest.
  * Figures a workload does not exercise read 0.
  */
object Layers {

  def metrics(run: Run, env: Env, work: Work): Metrics = {
    val (ingestLayers, _) = run.ingestTracer.get.snapshot()
    val ingestVi = ingestLayers.getOrElse("pipeline.VectorIndex", new LayerTotals)
    val ingestSeconds = Stats.median(run.times("ingest"))
    val tracer         = run.tracer.get
    val (layers, jobs) = tracer.snapshot()
    val rounds         = math.max(1, run.tracedRounds).toDouble
    val calls          = math.max(1, work.topKCalls).toDouble
    def layer(n: String) = layers.getOrElse(n, new LayerTotals)
    def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
    def ratioL(a: Long, b: Long): Double = ratio(a.toDouble, b.toDouble)
    def wall(l: LayerTotals) = Tracer.covered(l.jobIntervals.toSeq, 0L, Long.MaxValue) / 1e3
    def spanSeconds(names: String*) =
      tracer.spans.filter(s => names.contains(s.name)).map(s => (s.endMs - s.startMs) / 1e3).toSeq
    def meanSpan(names: String*) = { val s = spanSeconds(names: _*); ratio(s.sum, s.size) }

    val vi = layer("pipeline.VectorIndex")
    val ss = layer("pipeline.StateStore")
    val sy = layer("pipeline.Sync")
    val tk = layer("operators.TopK")
    val driverGap = tracer.spans.filter(_.name == "pipeline.Sync.run").map { s =>
      (s.endMs - s.startMs) - Tracer.covered(jobs, s.startMs, s.endMs)
    }.sum / 1e3
    val (tail, tailPct, tailN) = Stats.tail(run.times("op"))
    val untraced = Stats.median(run.roundSeconds(false).toSeq)
    val tracedMed = Stats.median(run.roundSeconds(true).toSeq)

    val m: Seq[(String, (Double, String))] = Seq(
      "pipeline.VectorIndex.jobs"          -> ((vi.jobs / rounds, "count")),
      "pipeline.VectorIndex.wall_s"        -> ((wall(vi) / rounds, "s")),
      "pipeline.VectorIndex.exec_cpu_s"    -> ((vi.cpuNs / 1e9 / rounds, "s")),
      "pipeline.VectorIndex.output_rows"   -> ((vi.outputRows / rounds, "count")),
      "pipeline.VectorIndex.output_bytes"  -> ((vi.outputBytes / rounds, "B")),
      "pipeline.VectorIndex.shuffle_bytes" -> ((vi.shuffleBytes / rounds, "B")),
      "pipeline.VectorIndex.write_amp"     -> ((ratioL(vi.outputRows, work.indexRowsChanged), "ratio")),
      "pipeline.VectorIndex.read_s"        -> ((meanSpan("pipeline.VectorIndex.read"), "s")),
      "pipeline.StateStore.wall_s"         -> ((wall(ss) / rounds, "s")),
      "pipeline.StateStore.output_rows"    -> ((ss.outputRows / rounds, "count")),
      "pipeline.Sync.jobs"                 -> ((sy.jobs / rounds, "count")),
      "pipeline.Sync.exec_cpu_s"           -> ((sy.cpuNs / 1e9 / rounds, "s")),
      "pipeline.Sync.input_bytes"          -> ((sy.inputBytes / rounds, "B")),
      "pipeline.Sync.driver_gap_s"         -> ((driverGap / rounds, "s")),
      "pipeline.FileScan.list_s"           -> ((meanSpan("pipeline.FileScan.scan"), "s")),
      "pipeline.FileScan.read_s"           -> ((tracer.corpusReadMs / 1e3 / rounds, "s")),
      "pipeline.FileScan.read_amp"         -> ((ratioL(tracer.corpusReadBytes, work.changedBytes), "ratio")),
      "operators.TopK.wall_s"              -> ((meanSpan("operators.TopK.topK", "operators.TopK.knnJoin"), "s")),
      "operators.TopK.exec_cpu_s"          -> ((tk.cpuNs / 1e9 / calls, "s")),
      "operators.TopK.input_bytes"         -> ((tk.inputBytes / calls, "B")),
      "operators.TopK.tasks"               -> ((tk.tasks / calls, "count")),
      "run.cpu_per_wall"                   -> ((run.noise.cpuPerWall, "ratio")),
      "run.steal_frac"                     -> ((run.noise.stealFrac, "ratio")),
      "run.stolen_rounds"                  -> ((run.stolenRounds.toDouble, "count")),
      "trace.overhead_frac"                -> ((if (untraced > 0) tracedMed / untraced - 1 else 0.0, "ratio")),
      "failed_op_frac"                     -> ((ratioL(run.failed, run.attempted), "ratio")),
      "ingest.docs_per_s"                  -> ((ratio(env.ingest.indexed.toDouble, ingestSeconds), "1/s")),
      "ingest.noop_sync_s"                 -> ((Stats.median(run.times("noop")), "s")),
      "ingest.VectorIndex.write_amp"       -> ((ratioL(ingestVi.outputRows, env.ingest.indexed), "ratio")),
      "workload.fresh_search_p50_s"        -> ((Stats.median(run.times("search")), "s")),
      "workload.batch_search_qps"          ->
        ((ratio(Workloads.BatchSize, Stats.median(run.times("batch"))), "1/s")),
      "workload.op_tail_s"                 -> ((tail, "s")),
      "workload.op_tail_pct"               -> ((tailPct, "%")),
      "workload.op_tail_n"                 -> ((tailN.toDouble, "count")))
    m.toMap ++ Kernels.table(env)
  }
}
