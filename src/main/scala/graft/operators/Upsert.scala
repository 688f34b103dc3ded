package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Merge-by-key / upsert (SURVEY.md §2.3 C1) — last-writer-wins by primary
  * key, the semantics of the reference's `INSERT OR REPLACE` cache write
  * (reference `vectrekker/main.py:113-123`) and per-vector index upsert
  * (`main.py:185`).
  *
  * Scale design: union + single hash shuffle on the key + per-key `row_number`
  * — one shuffle total, map-side free, AQE handles skewed keys. No driver-side
  * state, no per-row RPC (the reference does one RPC per row).
  *
  * The registered queries use it (q29, q262). The vector index does not:
  * its sync knows the keys it touches on the driver, so
  * [[graft.pipeline.VectorIndex.upsert]] replaces by those keys on the
  * driver, with no shuffle and no version precedence.
  */
object Upsert {

  /** Merge `updates` into `base`: rows sharing `keyCols` are replaced when the
    * update's `versionCol` is greater-or-equal (last-writer-wins; updates beat
    * base on equal version — `INSERT OR REPLACE` semantics).
    *
    * Both inputs must share a schema containing `keyCols` + `versionCol`.
    * Determinism contract: within each input, (key, version) pairs must be
    * unique — two updates for the same key at the same version have no
    * defined winner (same as any last-writer-wins store).
    */
  def merge(base: DataFrame, updates: DataFrame,
            keyCols: Seq[String], versionCol: String): DataFrame = {
    // precedence: higher version wins; at equal version the update wins
    val tagged = base.withColumn("__src", lit(0))
      .unionByName(updates.withColumn("__src", lit(1)))
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(desc(versionCol), desc("__src"))
    tagged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__src")
  }
}
