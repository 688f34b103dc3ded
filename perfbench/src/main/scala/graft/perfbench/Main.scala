package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run.
  *
  * {{{
  * Main --workload <cron-delta|search-only> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  * Writes the result object to `--out`; with `--trace 1` it also writes the
  * run's spans next to it, as `<out>.spans.jsonl`.
  */
object Main {
  val Cpus = 4

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (${Workloads.names.mkString(", ")})")
    val work = Paths.get(opts("work")).toAbsolutePath
    val out  = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val run = new Run(spark, work, opts("seed").toLong, opts("seconds").toInt, opts("trace") == "1")
      val res = Workloads.run(workload, run)
      System.err.println(f"[perfbench] noise: steal ${run.noise.stealFrac}%.4f, " +
        f"cpu/wall ${run.noise.cpuPerWall}%.3f, stolen rounds ${run.stolenRounds}")
      val metrics = if (run.trace) res.layers else res.e2e
      val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, unit)) =>
        s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
      }.mkString(", ")
      val json = s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
        s""""failed": ${run.failed}, "metrics": {$body}}"""
      run.tracer.foreach(_.writeSpans(Paths.get(out.toString + ".spans.jsonl")))
      Files.write(out, json.getBytes(UTF_8))
    } finally spark.stop()
  }

  /** A JSON number with every digit the double carries. */
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}
