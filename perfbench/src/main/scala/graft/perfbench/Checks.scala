package graft.perfbench

import graft.pipeline.{StateStore, VectorIndex}
import org.apache.spark.sql.{Row, SparkSession}

/** Correctness checks. Each returns the list of problems it found, empty
  * when the output is right; a non-empty list fails the operation. */
object Checks {

  /** The index collected into this JVM: id -> (version, embedding). */
  type Snapshot = Map[String, (Long, Array[Double])]

  def collectIndex(spark: SparkSession, index: VectorIndex): Snapshot =
    index.read(spark).select("id", "version", "embedding").collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getSeq[Double](2).toArray))
    }.toMap

  private def diff[K](what: String, expected: Set[K], got: Set[K]): Seq[String] = {
    val missing = expected -- got
    val extra   = got -- expected
    if (missing.isEmpty && extra.isEmpty) Nil
    else Seq(s"$what: ${missing.size} missing (e.g. ${missing.take(2).mkString(",")}), " +
      s"${extra.size} unexpected (e.g. ${extra.take(2).mkString(",")})")
  }

  /** `Sync.Report` fields against the corpus model. */
  def report(got: (Long, Long, Long, Long, Long), exp: Corpus.Expected): Seq[String] = {
    val want = (exp.scanned, exp.changed, exp.tooLong, exp.indexed, exp.deleted)
    if (got == want) Nil
    else Seq(s"report (scanned, changed, tooLong, indexed, deleted) = $got, expected $want")
  }

  /** Index ids are exactly the live `.md` paths under the token guard, and
    * every version equals its file's mtime; every vector has the index dim. */
  def index(snap: Snapshot, corpus: Corpus, dim: Int): Seq[String] = {
    val want = corpus.expectedIndex
    diff("index ids", want.keySet, snap.keySet) ++
      snap.collect { case (id, (v, _)) if want.get(id).exists(_ != v) =>
        s"index version of $id is $v, file mtime is ${want(id)}"
      }.take(3) ++
      snap.collect { case (id, (_, e)) if e.length != dim =>
        s"index vector of $id has ${e.length} components, expected $dim"
      }.take(3)
  }

  /** State rows are exactly the live `.md` paths, with their mtimes and
    * the over-long flag. */
  def state(spark: SparkSession, store: StateStore, corpus: Corpus): Seq[String] = {
    val rows = store.read(spark).collect().map { case Row(p: String, t: Long, tl) =>
      p -> ((t, Option(tl).contains(true)))
    }.toMap
    val want = corpus.docs.valuesIterator
      .map(d => d.path -> ((d.mtime, d.tokens >= Corpus.MaxTokens))).toMap
    diff("state paths", want.keySet, rows.keySet) ++
      rows.collect { case (p, v) if want.get(p).exists(_ != v) =>
        s"state row of $p is $v, expected ${want(p)}"
      }.take(3)
  }

  /** `MathFunctions.floorRound`: floor(x * 10^n + 0.5) / 10^n. */
  private def floorRound(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.floor(x * p + 0.5).toLong.toDouble / p
  }

  private def normSq(a: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * a(i); i += 1 }
    s
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Brute-force cosine top-k in this JVM with the operator's arithmetic:
    * sequential sums, `dot / (sqrt(|c|²) · sqrt(|q|²))`, 6-digit floor
    * rounding, zero norms and NaN dropped, ties to the smaller id. */
  def bruteTopK(snap: Snapshot, q: Array[Double], k: Int): Seq[(String, Double)] = {
    val qNorm = math.sqrt(normSq(q))
    snap.iterator.flatMap { case (id, (_, e)) =>
      val np = math.sqrt(normSq(e)) * qNorm
      if (np == 0.0) None
      else Some(id -> floorRound(dot(e, q) / np, 6)).filter(s => !s._2.isNaN)
    }.toSeq.sortBy { case (id, s) => (-s, id) }(ScoreOrder).take(k)
  }

  private val ScoreOrder = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.String)

  def topK(got: Seq[(String, Double)], want: Seq[(String, Double)], what: String): Seq[String] =
    if (got == want) Nil
    else Seq(s"$what: got ${got.take(3).mkString(",")}..., brute force ${want.take(3).mkString(",")}...")
}
