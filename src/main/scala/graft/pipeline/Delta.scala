package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental change detection (SURVEY.md §2.3 J1 + §2.2 P2) — the core of
  * the reference tool: per-path comparison of current mtime against the cached
  * mtime, missing ⇒ 0, strict `>` (reference `vectrekker/main.py:143-147`,
  * lookup `main.py:106-111`).
  *
  * The reference runs N point queries in a Python loop; here it is one
  * set-oriented left-outer equi-join, the form the registered pipeline
  * queries compose. The cache is small (one row per file) so Catalyst
  * auto-broadcasts it; if state ever outgrows broadcast the same plan
  * degrades gracefully to a sort-merge join, with no code change.
  *
  * [[Sync]] does not use these joins: it already holds the corpus listing
  * on the driver, so it loads state into a map there
  * ([[StateStore.load]]) and applies the same rule (no Spark job instead
  * of a join, an aggregate and a cached frame per cycle); its size limit
  * is in `Sync.run`.
  */
object Delta {

  /** Rows of `scan` whose `mtimeCol` is strictly newer than the cached value
    * (missing ⇒ 0). Schema of the result = schema of `scan`.
    */
  def changed(scan: DataFrame, cache: DataFrame,
              keyCol: String = "path", mtimeCol: String = "mtime",
              cachedCol: String = "last_edit_time"): DataFrame = {
    val scanCols = scan.columns.toSeq.map(col)
    scan.join(cache.select(col(keyCol), col(cachedCol)), Seq(keyCol), "left_outer")
      .filter(col(mtimeCol) > coalesce(col(cachedCol), lit(0L)))
      .select(scanCols: _*)
  }

  /** Extension the reference lacks (documented divergence, SURVEY §2.7):
    * cache entries whose file no longer exists — tombstones for deletion
    * propagation. The reference never deletes (`main.py:62-68` walk only
    * yields existing files).
    */
  def deleted(scan: DataFrame, cache: DataFrame,
              keyCol: String = "path"): DataFrame =
    cache.join(scan.select(keyCol), Seq(keyCol), "left_anti")
}
