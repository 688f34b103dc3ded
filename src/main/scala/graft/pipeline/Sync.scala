package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

/** End-to-end incremental sync orchestration (SURVEY.md §3): scan → regex
  * filter → delta vs state → token guard → embed → index upsert → cache
  * write-back, preserving the reference's commit order (index before cache,
  * reference `vectrekker/main.py:185-188`) so a crash re-processes rather than
  * loses files (at-least-once, idempotent by keyed upsert).
  *
  * Divergences from the reference, both deliberate (SURVEY §0):
  *  - `dryRun = true` actually performs no side effects — the reference's
  *    `--dry-run` falls through and indexes anyway (`main.py:155-156`, missing
  *    `return`).
  *  - over-long documents are filtered + reported, not `assert`-crashed
  *    (`main.py:175-178`; chunking is the reference's acknowledged TODO).
  */
final class Sync(
    rootDir: String,
    statePath: String,
    indexPath: String,
    embedder: Embedder = HashingEmbedder(64),
    pathRegex: String = ".*\\.md$",
    maxTokens: Int = 8191) {

  case class Report(scanned: Long, changed: Long, skippedTooLong: Long,
                    indexed: Long, deleted: Long, dryRun: Boolean)

  /** One cycle. Its Spark work follows the delta, not the corpus: the
    * corpus is listed once, on the driver, and classified there against
    * state loaded on the driver; only changed files' content is read, from
    * their listed statuses, and the guard's verdicts come back in one
    * action; the index is rewritten at most once, as one narrow stage keyed
    * by the changed and erased paths; state is saved on the driver from
    * the listing snapshot. An unchanged cycle runs no Spark job, a cycle
    * with edits two (the guard's collect and the index write).
    *
    * Size limit: the driver holds one `FileStatus` per listed file, as
    * Spark's own file index did, and one state row per file; the keys of
    * the index write (every changed and every erased path) ride in its
    * plan as literal sets, so a cycle that touches the whole corpus plans
    * one string literal per file. The walk is sequential: it trades
    * Spark's parallel listing, which starts a job once a directory has
    * more than 32 subdirectories, for no job at all. On a remote store
    * with thousands of directories the parallel listing can be faster.
    * Measured at `local[4]` on a 4-vCPU Xeon VM with 20 000 files in 200
    * directories (a dim-64 embedder, a fresh JVM per run, heavy and
    * varying steal): a cold sync took 27.2–41.1 s, an all-files-touched
    * cycle 7.0–10.9 s, an unchanged cycle 0.4–0.9 s and a one-file cycle
    * 1.4–2.4 s, against 25.6–32.9 s, 14.3–18.4 s, 1.1–1.3 s and 1.8–2.7 s
    * when the index write merged versions through a shuffle and state went
    * through Spark jobs.
    */
  def run(spark: SparkSession, dryRun: Boolean = false): Report = {
    import graft.functions.TextFunctions
    import spark.implicits._
    val state = new StateStore(statePath)
    val index = new VectorIndex(indexPath, embedder.dim, Some(embedder.id))
    // (status, path, mtime) snapshotted ONCE: the state write below must
    // record the mtimes this run actually saw — re-listing at write time
    // could record a newer mtime for content embedded from the earlier
    // read, silently losing that edit on the next run. mtime is epoch
    // seconds, matching the reference's int(getmtime) (main.py:59). A
    // missing rootDir throws here, before anything is read or written: an
    // empty listing would tombstone every indexed file.
    val listed = FileScan.list(spark, rootDir, pathRegex)
      .map(f => (f, f.getPath.toString, Math.floorDiv(f.getModificationTime, 1000L)))
    // state, read once on the driver: path -> (mtime, too_long)
    val known = state.load(spark)
    // the delta (main.py:143-147): strictly newer than the cached mtime,
    // missing ⇒ 0. Gone paths are the deletion propagation the reference
    // never does (its walk yields only existing files, main.py:62-68, so a
    // deleted file's vector lives in Pinecone forever; SURVEY §2.7): they
    // tombstone BOTH stores.
    val changed = listed.filter { case (_, p, m) => m > known.get(p).fold(0L)(_._1) }
    val gone    = known.keySet -- listed.map(_._2)
    val scanned = listed.size.toLong
    if (changed.isEmpty && gone.isEmpty) // empty-delta early exit (main.py:149-151)
      return Report(scanned, 0, 0, 0, 0, dryRun)

    // content of the changed files only (the reference reads a file after
    // its mtime check, main.py:174), read from their listed statuses. It
    // is cached because the index write embeds the same rows; it is
    // released however the run ends: a throw (e.g. the index refusing a
    // different embedder) must not leave it cached for the session.
    val guarded = FileScan.read(spark, changed.map(_._1))
      .withColumn("too_long", TextFunctions.tokenCount(col("text")) >= maxTokens).cache()
    try {
      val verdicts =
        if (changed.isEmpty) Map.empty[String, Boolean]
        else guarded.select("path", "too_long").as[(String, Boolean)].collect().toMap
      // a changed file whose content the read missed would otherwise have
      // its new mtime recorded below without being indexed
      if (changed.exists(c => !verdicts.contains(c._2)))
        sys.error(s"Sync: read ${verdicts.size} of ${changed.size} changed files under $rootDir")
      val tooLong = verdicts.count(_._2).toLong
      val okCount = changed.size - tooLong
      // a dry run REPORTS pending deletions like it reports pending
      // changes — returning deleted=0 here would make `--dry-run` print
      // "no changes" while the next real run erases vectors
      if (dryRun) return Report(scanned, changed.size, tooLong, 0, gone.size, dryRun)

      // INDEX first: upserts and erasures in one staged rewrite keyed by
      // the changed and the erased paths, skipped when it would rewrite
      // identical content. A changed path's row replaces the stored one
      // whatever its version: a vector that a crashed cycle wrote from
      // later content must not outlive that content. Erased are vanished
      // files AND files that NEWLY crossed the token guard: "filtered, not
      // crashed" applies to the INDEX too — an edit that pushes an indexed
      // doc over the guard supersedes its old content, so the stale
      // pre-edit vector must not stay retrievable. NEWLY is load-bearing
      // (ADVICE r18): a path already recorded too_long holds no vector, and
      // since too-long paths are cached with their mtime (flagged, below)
      // they no longer resurface in the delta at all, so a permanently
      // over-long doc costs nothing after its first sync.
      val newlyTooLong = verdicts.collect { case (p, true) if known.get(p).exists(!_._2) => p }
      val erase = gone ++ newlyTooLong
      if (okCount > 0 || erase.nonEmpty) {
        val vectors = guarded.filter(!col("too_long")).select(
          col("path").as("id"),
          embedder.embed(col("text")).as("embedding"),
          map().cast("map<string,string>").as("metadata"), // reference metadata is always {}
          col("mtime").as("version"))
        index.upsert(vectors, verdicts.keySet, erase)
      }
      // … then STATE, from the snapshot. Too-long documents are recorded
      // WITH their mtime and a too_long flag (not excluded): the flag is
      // what lets the next run's delta skip them and what distinguishes
      // "newly crossed the guard" (erase the stale vector) from "known
      // over-long" (nothing to erase). Changed paths take the guard's
      // verdict, unchanged paths carry their previous flag; gone paths
      // drop out. The index-before-state order keeps the crash contract: a
      // crash between the two re-derives the same delta AND the same
      // tombstones next run — the upsert and its erasures are idempotent
      // (at-least-once, the main.py:185-188 commit-order contract extended
      // to erasure).
      state.save(spark,
        listed.map { case (_, p, m) => (p, m, verdicts.getOrElse(p, known.get(p).exists(_._2))) })
      Report(scanned, changed.size, tooLong, okCount, gone.size, dryRun)
    } finally guarded.unpersist()
  }
}
