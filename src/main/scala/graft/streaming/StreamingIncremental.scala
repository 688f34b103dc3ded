package graft.streaming

import graft.functions.MathFunctions.floorRound
import graft.operators.Incremental
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming incremental view maintenance: a keyed additive aggregate is
  * kept up to date with `foreachBatch` + [[Incremental]]'s monoid merge —
  * each micro-batch aggregates to a keyed delta state and folds in. Because
  * the merge is a monoid, the maintained view equals the from-scratch batch
  * recompute REGARDLESS of how the input was micro-batched (the q142 oracle
  * is exactly that recompute; a unit test additionally forces a multi-file
  * split). Money is summed as integer cents, so the equality is bit-exact.
  *
  * The state here is bounded driver-side rows (one per group key — months);
  * a production deployment with unbounded keys MERGEs each delta state into
  * a key-partitioned state table (Delta/Iceberg MERGE INTO) instead — the
  * delta computation and merge algebra are identical.
  */
object StreamingIncremental {

  def monthlyOrderState(spark: SparkSession, dir: String): DataFrame =
    monthlyOrderStateFrom(spark, dir, schemaFrom = s"$dir/orders.parquet",
      glob = "orders.parquet", maxFilesPerTrigger = None)

  def monthlyOrderStateFrom(spark: SparkSession, dir: String, schemaFrom: String,
                            glob: String, maxFilesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val withKey = StreamingAgg.streamTable(spark, dir, glob, Some(schemaFrom), maxFilesPerTrigger)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long").as("cents"))
    // month -> (n, sum_cents); driver-held because the key space is bounded
    var state = Map.empty[String, (Long, Long)]
    StreamingAgg.drainEach(withKey) { (batch, _) =>
      val delta = Incremental.aggState(batch, Seq("month"), Seq("cents"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      state = delta.foldLeft(state) { case (st, (m, n, c)) =>
        val (n0, c0) = st.getOrElse(m, (0L, 0L))
        st.updated(m, (n0 + n, c0 + c))
      }
    }
    state.toSeq.map { case (m, (n, c)) => (m, n, c) }
      .toDF("month", "n", "sum_cents")
      .select(col("month"), col("n"),
        floorRound(col("sum_cents").cast("double") / lit(100.0), 2).as("total"))
      .orderBy("month")
  }
}
