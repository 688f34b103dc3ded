package graft.perfbench

import graft.operators.TopK
import graft.pipeline.{FileScan, HashingEmbedder, StateStore, Sync, VectorIndex}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions.col

/** The workloads. Each is a closed loop with one client: the next
  * operation starts when the previous one has returned and been checked.
  * Both share one set-up: the corpus, and a cold ingest that builds the
  * base index followed by a no-change sync. */
object Workloads {
  val Docs          = 500  // see README.md for why not 5000
  val Dim           = 1536 // the reference's embedding dimension
  val K             = 10
  val FreshSearches = 3    // single-query searches after each hourly sync
  val Singles       = 4    // single-query searches per search-only round
  val BatchSize     = 64   // queries per knnJoin batch
  val WarmupSeconds = 15.0 // unrecorded rounds before the measured window

  val names = Seq("cron-delta", "search-only")

  /** name -> (value, unit) */
  type Metrics = Map[String, (Double, String)]

  /** Everything a workload hands back for printing. */
  final case class Outcome(e2e: Metrics, layers: Metrics)

  /** Corpus, embedder, query vectors and the base index: the set-up every
    * workload shares. */
  final class Env(val run: Run) {
    val spark    = run.spark
    val corpus   = new Corpus(run.work.resolve("corpus"), run.seed, Docs)
    val embedder = HashingEmbedder(Dim)
    corpus.create()
    val queries: Array[Array[Double]] = {
      import spark.implicits._
      Seq.fill(BatchSize)(corpus.queryText()).toDF("text")
        .select(embedder.embed(col("text"))).collect().map(_.getSeq[Double](0).toArray)
    }
    val queryDf = {
      import spark.implicits._
      queries.toSeq.zipWithIndex.map { case (v, i) => (f"q$i%02d", v.toSeq) }.toDF("qid", "qvec").cache()
    }

    final class Store(tag: String) {
      val statePath = run.work.resolve(s"state-$tag")
      val indexPath = run.work.resolve(s"index-$tag")
      val sync  = new Sync(corpus.root.toString, statePath.toString, indexPath.toString, embedder)
      val state = new StateStore(statePath.toString)
      val index = new VectorIndex(indexPath.toString, Dim, Some(embedder.id))
      var snap: Checks.Snapshot = Map.empty

      /** One `Sync.run`, checked against the corpus model; refreshes
        * `snap`, the collected index the searches are checked against. */
      def syncOp(exp: Corpus.Expected, series: String): Unit =
        run.op("Sync.run", series)(run.span("pipeline.Sync.run")(sync.run(spark))) { r =>
          snap = Checks.collectIndex(spark, index)
          Checks.report((r.scanned, r.changed, r.skippedTooLong, r.indexed, r.deleted), exp) ++
            Checks.index(snap, corpus, Dim) ++ Checks.state(spark, state, corpus)
        }

      /** One single-query `TopK.topK`, including the index read. */
      def searchOp(q: Array[Double], series: String): Unit =
        run.op("TopK.topK", series) {
          val df = run.span("pipeline.VectorIndex.read")(index.read(spark))
          run.span("operators.TopK.topK")(TopK.topK(df, "embedding", "id", q.toSeq, K)
            .select("id", "score").collect().map(r => (r.getString(0), r.getDouble(1))).toSeq)
        }(got => Checks.topK(got, Checks.bruteTopK(snap, q, K), "topK"))

      /** One `TopK.knnJoin` of all query vectors against the index. */
      def batchOp(): Unit =
        run.op("TopK.knnJoin", "batch") {
          val df = run.span("pipeline.VectorIndex.read")(index.read(spark))
          run.span("operators.TopK.knnJoin")(TopK.knnJoin(queryDf, "qid", "qvec", df, "id", "embedding",
            K, excludeSelf = false).select("qid", "id", "score", "rn").collect().toSeq)
        } { rows =>
          val got = rows.groupBy(_.getString(0)).map { case (q, rs) =>
            q -> rs.sortBy(_.getInt(3)).map(r => (r.getString(1), r.getDouble(2)))
          }
          queries.indices.flatMap { i =>
            val q = f"q$i%02d"
            Checks.topK(got.getOrElse(q, Nil), Checks.bruteTopK(snap, queries(i), K), s"knnJoin $q")
          }
        }

      /** Parquet data bytes of the index per indexed document. */
      def bytesPerDoc(): Double = {
        val files = Files.list(indexPath).toArray.map(_.asInstanceOf[Path])
          .filter(_.getFileName.toString.endsWith(".parquet"))
        files.map(Files.size).sum.toDouble / math.max(1, snap.size)
      }
    }

    /** The cold ingest: empty state and index, a sync over the whole
      * corpus, then a sync that finds nothing to do. */
    val base   = new Store("base")
    val ingest = corpus.coldExpected()
    run.traceIngest {
      base.syncOp(ingest, "ingest")
      base.syncOp(ingest.copy(changed = 0, tooLong = 0, indexed = 0), "noop")
    }
  }

  /** What the traced rounds did, for the per-layer ratios. */
  final class Work {
    var indexRowsChanged, changedBytes = 0L
    var topKCalls                      = 0
  }

  def run(name: String, run: Run): Outcome = {
    val env  = new Env(run)
    val work = new Work
    def traced(f: Work => Unit): Unit = if (run.isTraced) f(work)
    def listing(): Unit = if (run.isTraced)
      run.span("pipeline.FileScan.scan")(FileScan.scan(env.spark, env.corpus.root.toString))
    val b = env.base

    name match {
      case "cron-delta" =>
        // each round: one simulated hour of edits, the sync, fresh searches
        run.loop(minRounds = 3, WarmupSeconds) { i =>
          val exp = env.corpus.mutate(i)
          listing()
          b.syncOp(exp, "op")
          (0 until FreshSearches).foreach(j => b.searchOp(env.queries((i * FreshSearches + j) % BatchSize), "search"))
          traced { w =>
            w.indexRowsChanged += exp.indexed + exp.indexRemoved
            w.changedBytes += exp.changedBytes; w.topKCalls += FreshSearches
          }
        }
      case "search-only" =>
        // each round: single-query searches, then one batch
        run.loop(minRounds = 3, WarmupSeconds) { i =>
          (0 until Singles).foreach(j => b.searchOp(env.queries((i * Singles + j) % BatchSize), "op"))
          b.batchOp()
          traced(_.topKCalls += Singles + 1)
        }
    }

    val e2e: Metrics = Map(
      "setup_s"             -> ((run.setupSeconds, "s")),
      "op_p50_s"            -> ((Stats.median(run.times("op")), "s")),
      "peak_rss_mb"         -> ((Stats.peakRssMb(), "MB")),
      "index_bytes_per_doc" -> ((b.bytesPerDoc(), "B")))
    val layers = if (run.trace) Layers.metrics(run, env, work) else Map.empty[String, (Double, String)]
    Outcome(e2e, layers)
  }
}
