package graft

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VectorFunctionsSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private def vec(xs: Double*) = xs.toArray

  private lazy val df = Seq(
    (1L, vec(1, 0, 0), vec(0, 1, 0)),
    (2L, vec(1, 2, 3), vec(1, 2, 3)),
    (3L, vec(1, 1, 0), vec(1, 0, 0)),
    (4L, vec(0, 0, 0), vec(1, 2, 3)),
  ).toDF("id", "a", "b")

  test("dot product") {
    val r = df.select($"id", dot($"a", $"b").as("d")).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(r(1) === 0.0)
    assert(r(2) === 14.0)
    assert(r(3) === 1.0)
  }

  test("cosine: orthogonal=0, identical=1, 45deg") {
    val r = df.select($"id", cosine($"a", $"b").as("c")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    assert(math.abs(r(1)) < 1e-12)
    assert(math.abs(r(2) - 1.0) < 1e-12)
    assert(math.abs(r(3) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("cosine is in [-1,1] and cos(v,v)=1 for random vectors") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((Array.fill(16)(rnd.nextGaussian()), Array.fill(16)(rnd.nextGaussian())))
    val d = rows.toDF("a", "b")
    val cs = d.select(cosine($"a", $"b").as("c"), cosine($"a", $"a").as("self")).collect()
    cs.foreach { r =>
      assert(r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9)
      assert(math.abs(r.getDouble(1) - 1.0) < 1e-9)
    }
  }

  // The higher-order-function forms the native kernels replaced — the
  // reference every kernel must match bit for bit (the DuckDB oracles
  // compute the same left-to-right sums).
  private def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
  private def l2NormSqHof(a: Column): Column =
    aggregate(asDouble(a), lit(0.0), (acc, x) => acc + x * x)
  private def cosineHof(a: Column, b: Column): Column = {
    val np = sqrt(l2NormSqHof(a)) * sqrt(l2NormSqHof(b))
    when(np =!= 0.0, dotHof(a, b) / np)
  }

  test("fused kernels are bit-identical to the HOF forms") {
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(100)((Array.fill(64)(rnd.nextGaussian()), Array.fill(64)(rnd.nextGaussian())))
    val d = rows.toDF("a", "b")
    val cmp = d.select(
      cosineHof($"a", $"b"), cosine($"a", $"b"),
      dotHof($"a", $"b"), dot($"a", $"b")).collect()
    cmp.foreach { r =>
      assert(r.getDouble(1) === r.getDouble(0)) // exact, not approx
      assert(r.getDouble(3) === r.getDouble(2))
    }
  }

  test("l2NormSq kernel is bit-identical to the HOF form, codegen'd and interpreted") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(41)
    def gauss(dim: Int): Seq[Any] = Seq.fill(dim)(rnd.nextGaussian())
    val vectors: Seq[Seq[Any]] =
      Seq.fill(20)(gauss(64)) ++ Seq.fill(20)(gauss(1536)) ++ Seq(
        Seq.empty, null, Seq(1.0, null, 2.0), Seq(null),
        Seq(Double.NaN, 1.0), Seq(Double.PositiveInfinity, 2.0), Seq(Double.NegativeInfinity),
        Seq(Double.PositiveInfinity, Double.NaN), Seq(-0.0), Seq(-0.0, -0.0, 3.0),
        Seq(Double.MaxValue, Double.MaxValue), Seq(Double.MinPositiveValue))
    val rows = vectors.zipWithIndex.map { case (v, i) =>
      val f: Seq[Any] = if (v == null) null else v.map {
        case x: Double => x.toFloat
        case null      => null
      }
      Row(i.toLong, v, f)
    }
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true)),
      StructField("f", ArrayType(FloatType, containsNull = true))))
    // an RDD-backed frame: a local relation would have its projection
    // evaluated by the optimizer, so the generated code would never run
    val d = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    // raw bits: NaN must match NaN, and -0.0 must not pass for 0.0
    def bits(df: DataFrame): Map[Long, Option[Long]] = df.collect().map { r =>
      r.getLong(0) -> (if (r.isNullAt(1)) None
                       else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    }.toMap
    def compare(mode: String): Unit = for (c <- Seq("v", "f")) {
      // kernel and reference in separate queries, so the kernel's Project is
      // not pulled out of whole-stage codegen by the HOF beside it
      val got  = bits(d.select($"id", l2NormSq(col(c))))
      val want = bits(d.select($"id", l2NormSqHof(col(c))))
      assert(got.size === vectors.size)
      assert(got === want, s"$mode, column $c")
    }
    def withConf(kv: (String, String)*)(body: => Unit): Unit = {
      val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
      kv.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    // default codegen, with a compile error in the generated code surfacing
    // instead of falling back to interpreted evaluation (doGenCode)
    withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
             "spark.sql.codegen.fallback" -> "false")(compare("codegen"))
    // no codegen at all (nullSafeEval)
    withConf("spark.sql.codegen.wholeStage" -> "false",
             "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(compare("interpreted"))
    // the edges, spelled out
    val edge = bits(d.select($"id", l2NormSq($"v")))
    assert(edge(40L) === Some(java.lang.Double.doubleToRawLongBits(0.0))) // empty => 0.0
    assert(edge(41L) === None && edge(42L) === None && edge(43L) === None) // null array / element
  }

  test("fused kernels: null on length mismatch, null on zero norm") {
    val d = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0), Array(0.0, 0.0)))
      .toDF("a", "b", "z")
    val r = d.select(cosine($"a", $"b"), cosine($"a", $"z"), dot($"a", $"b")).head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("matVec kernel is bit-identical to the HOF literal-matrix form") {
    val rnd = new scala.util.Random(29)
    val mat = Array.fill(16)(Array.fill(16)(rnd.nextGaussian()))
    // the historical HOF formulation the kernel replaced — the equivalence
    // contract that keeps every rotated-chain oracle hash-stable
    def matVecHof(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val rows = array(mat.map(r => array(r.map(lit): _*)): _*)
      transform(sequence(lit(1), lit(mat.length)), j => dot(v, element_at(rows, j)))
    }
    val d = Seq.fill(50)(Array.fill(16)(rnd.nextGaussian())).toDF("v")
    val cmp = d.select(matVec($"v", mat).as("k"), matVecHof($"v").as("h")).collect()
    cmp.foreach { r =>
      assert(r.getSeq[Double](0) === r.getSeq[Double](1)) // exact, not approx
    }
    // null semantics: length mismatch ⇒ null elements; null vector ⇒ null
    val e = Seq(Tuple1(Array(1.0, 2.0))).toDF("v")
      .select(matVec($"v", mat).as("k"),
        matVec(lit(null).cast("array<double>"), mat).as("n")).head
    assert(e.getSeq[Any](0).forall(_ == null) && e.isNullAt(1))
  }

  test("VectorSumAggregator: typed UDAF mean vector per group") {
    import graft.functions.VectorSumAggregator
    import org.apache.spark.sql.functions.udaf
    val meanUdaf = udaf(VectorSumAggregator.meanVector)
    val d = Seq((0, Seq(1.0, 3.0)), (0, Seq(3.0, 5.0)), (1, Seq(2.0, 2.0)))
      .toDF("g", "v")
    val got = d.groupBy("g").agg(meanUdaf($"v").as("mean"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(got(0) === Seq(2.0, 4.0))
    assert(got(1) === Seq(2.0, 2.0))
  }

  test("euclidean distance") {
    val r = df.filter($"id" === 1).select(euclidean($"a", $"b")).head.getDouble(0)
    assert(math.abs(r - math.sqrt(2)) < 1e-12)
  }

  test("l2Normalize produces unit vectors; zero vector passes through") {
    val r = df.select($"id", l2Norm(l2Normalize($"a")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r(2) - 1.0) < 1e-12)
    assert(r(4) === 0.0) // zero vector stays zero
  }
}
