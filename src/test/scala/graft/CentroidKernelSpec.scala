package graft

import graft.functions.VectorFunctions.dot
import graft.operators.AnnIndex
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.scalatest.funsuite.AnyFunSuite

/** Pins the [[graft.functions.expressions.CentroidArgmin]] kernel family
  * bit-identical to the literal Column formulation it replaced (the
  * nlist·dim literal-baked `array_min(array(struct(d, i)…))` / `slice(
  * sort_array(…))` / `element_at(array(array(lit…)…))` forms — r17 verdict
  * task 1). The literal forms are reconstructed HERE, verbatim, as the
  * reference arithmetic; any divergence in cells, probe order, tie-breaks,
  * or looked-up centroids fails the suite.
  */
class CentroidKernelSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  // deterministic integer-valued vectors (the fixture embedding style:
  // exact doubles, heavy ties available via duplicated rows)
  private val dim = 16
  private def hv(seed: Long): Seq[Double] =
    Seq.tabulate(dim)(d => ((seed * 31 + d * 17 + 5) % 23 - 11).toDouble)
  private lazy val vecs =
    ((0L until 64L).map(i => (i, hv(i))) ++ Seq((100L, hv(3)), (101L, hv(7))))
      .toDF("id", "v")
  private lazy val cents: Array[Array[Double]] =
    Array.tabulate(8)(i => hv(i * 5L).toArray)

  // the literal formulation, token for token as AnnIndex had it
  private def cellScoresLit(vec: Column): Column =
    array(cents.toSeq.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x * x).sum
      struct((lit(c2) - lit(2.0) * dot(vec, array(c.toSeq.map(lit): _*))).as("d"),
        lit(i).as("i"))
    }: _*)

  test("CentroidArgmin == literal array_min(struct(d,i)).i, ties to lower index") {
    val got = vecs.select($"id",
        AnnIndex.argminCell($"v", cents).as("k"),
        array_min(cellScoresLit($"v")).getField("i").as("l"))
      .collect()
    got.foreach(r => assert(r.getInt(1) === r.getInt(2), s"id=${r.getLong(0)}"))
  }

  test("CentroidProbes == literal slice(sort_array(struct(d,i)), 1, p).i for all p") {
    for (p <- Seq(1, 3, 8)) {
      val got = vecs.select($"id",
          AnnIndex.probeCells($"v", cents, p).as("k"),
          transform(slice(sort_array(cellScoresLit($"v")), 1, p),
            s => s.getField("i")).as("l"))
        .collect()
      got.foreach(r => assert(r.getSeq[Int](1) === r.getSeq[Int](2),
        s"id=${r.getLong(0)} nprobe=$p"))
    }
  }

  test("CentroidProbes tie order: identical distances rank by index") {
    // all centroids identical => every distance ties => probes = 0,1,2,...
    val tied = Array.fill(5)(hv(2L).toArray)
    val got = vecs.limit(4)
      .select(AnnIndex.probeCells($"v", tied, 5).as("k"))
      .collect().map(_.getSeq[Int](0))
    got.foreach(s => assert(s === Seq(0, 1, 2, 3, 4)))
  }

  test("CentroidLookup == literal element_at(array(array(lit…)), cell+1)") {
    val centArr = array(cents.toSeq.map(c => array(c.toSeq.map(lit): _*)): _*)
    val got = vecs.select($"id",
        AnnIndex.centroidOf(AnnIndex.argminCell($"v", cents), cents).as("k"),
        element_at(centArr,
          array_min(cellScoresLit($"v")).getField("i") + 1).as("l"))
      .collect()
    got.foreach(r => assert(r.getSeq[Double](1) === r.getSeq[Double](2),
      s"id=${r.getLong(0)}"))
    // out-of-range cell => null, the element_at convention
    val oob = vecs.limit(1).select(AnnIndex.centroidOf(lit(99), cents)).head
    assert(oob.isNullAt(0))
  }

  test("null/mismatch semantics: null vector and wrong-dim vector => null") {
    val bad = Seq((1L, null.asInstanceOf[Seq[Double]]), (2L, Seq(1.0, 2.0)))
      .toDF("id", "v")
    val got = bad.select(AnnIndex.argminCell($"v", cents).as("k"),
      AnnIndex.probeCells($"v", cents, 2).as("p")).collect()
    got.foreach { r => assert(r.isNullAt(0)); assert(r.isNullAt(1)) }
  }

  test("kernel plan carries no centroid literals (plan size independent of nlist)") {
    val wide = Array.tabulate(256)(i => hv(i.toLong).toArray)
    def exprNodes(c: Column): Int =
      vecs.select(c.as("x")).queryExecution.analyzed.expressions
        .map(e => e.collect { case x => x }.size).sum
    val kernelNodes = exprNodes(AnnIndex.argminCell($"v", wide))
    val kernelNodesSmall = exprNodes(AnnIndex.argminCell($"v", cents))
    // 8 vs 256 centroids: same expression-tree size (the matrix rides as a
    // reference object, not as plan nodes)
    assert(kernelNodes === kernelNodesSmall)
  }
}
