package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * listing is classified once against state; only changed files' content
    * is read; the index is rewritten at most once (upserts and erasures in
    * one staged swap); state is written from the listing snapshot.
    *
    * Size limit: the changed files' keys are collected to the driver (one
    * path string each) and ride in the content scan's plan, so a cycle's
    * delta — a cold sync's whole corpus included — must fit there. Measured
    * at `local[4]` on a 4-vCPU Xeon VM with 20 000 files: a cold sync took
    * 30.7 s and an all-files-touched cycle 13.8 s, against 33.9 s and
    * 19.5 s when every cycle read every file's content. Deltas far beyond
    * that need a join-based content read instead.
    */
  def run(spark: SparkSession, dryRun: Boolean = false): Report = {
    import graft.functions.TextFunctions
    val state   = new StateStore(statePath)
    val index   = new VectorIndex(indexPath, embedder.dim, Some(embedder.id))
    val stateDf = state.read(spark)
    val scan    = FileScan.scan(spark, rootDir, pathRegex)
    // cached frames are released however the run ends: a throw (e.g. the
    // index refusing a different embedder) must not leave them cached for
    // the rest of the session
    val cached = scala.collection.mutable.Buffer.empty[DataFrame]
    def cache(df: DataFrame): DataFrame = { cached += df; df.cache() }
    try {
      // (path, mtime, file) snapshotted ONCE and classified against state:
      // the state write below must record the mtimes this run actually
      // saw — re-listing at write time could record a newer mtime for
      // content embedded from the earlier read, silently losing that edit
      // on the next run. Gone rows are the deletion propagation the
      // reference never does (its walk yields only existing files,
      // main.py:62-68, so a deleted file's vector lives in Pinecone
      // forever; SURVEY §2.7): they tombstone BOTH stores.
      val snap = cache(Delta.classify(scan.select("path", "mtime", FileScan.FileKey), stateDf)
        .withColumn("had_vector",
          col("last_edit_time").isNotNull && !coalesce(col("too_long"), lit(false))))
      val isChanged = col("status") === Delta.Changed
      val isGone    = col("status") === Delta.Gone
      val counts = snap.agg(count(col("mtime")), count(when(isChanged, 1)),
        count(when(isGone, 1))).head()
      val (scanned, changed, goneN) = (counts.getLong(0), counts.getLong(1), counts.getLong(2))
      if (changed == 0 && goneN == 0) // empty-delta early exit (main.py:149-151)
        return Report(scanned, 0, 0, 0, 0, dryRun)

      // content of the changed files only (the reference reads a file after
      // its mtime check, main.py:174), pruned by the snapshot's file keys.
      // The keys are collected: Spark prunes listed files only by a literal
      // set, so the driver holds one key per changed file
      val keys = snap.filter(isChanged).select(FileScan.FileKey).collect().map(_.getString(0))
      val guarded = cache(FileScan.only(scan, keys).drop(FileScan.FileKey)
        .join(snap.filter(isChanged).select("path", "had_vector"), Seq("path"))
        .withColumn("too_long", TextFunctions.tokenCount(col("text")) >= maxTokens))
      val newlyTooLong = col("too_long") && col("had_vector")
      val g = guarded.agg(count(when(!col("too_long"), 1)), count(when(newlyTooLong, 1)),
        count(lit(1))).head()
      // a changed file whose content the prune skipped would otherwise have
      // its new mtime recorded below without being indexed
      if (g.getLong(2) != changed)
        sys.error(s"Sync: read ${g.getLong(2)} of $changed changed files under $rootDir")
      val okCount = g.getLong(0)
      val tooLong = changed - okCount
      // a dry run REPORTS pending deletions like it reports pending
      // changes — returning deleted=0 here would make `--dry-run` print
      // "no changes" while the next real run erases vectors
      if (dryRun) return Report(scanned, changed, tooLong, 0, goneN, dryRun)

      // INDEX first: upserts and erasures in one staged rewrite, skipped
      // when it would rewrite identical content. Erased are vanished files
      // AND files that NEWLY crossed the token guard: "filtered, not
      // crashed" applies to the INDEX too — an edit that pushes an indexed
      // doc over the guard supersedes its old content, so the stale
      // pre-edit vector must not stay retrievable. NEWLY is load-bearing
      // (ADVICE r18): a path already recorded too_long holds no vector, and
      // since too-long paths are cached with their mtime (flagged, below)
      // they no longer resurface in the delta at all, so a permanently
      // over-long doc costs nothing after its first sync.
      val erasing = goneN > 0 || g.getLong(1) > 0
      if (okCount > 0 || erasing) {
        val vectors = guarded.filter(!col("too_long")).select(
          col("path").as("id"),
          embedder.embed(col("text")).as("embedding"),
          map().cast("map<string,string>").as("metadata"), // reference metadata is always {}
          col("mtime").as("version"))
        val erase = snap.filter(isGone).select(col("path").as("id"))
          .union(guarded.filter(newlyTooLong).select(col("path").as("id")))
        index.upsert(vectors, Option.when(erasing)(erase))
      }
      // … then STATE, from the snapshot. Too-long documents are recorded
      // WITH their mtime and a too_long flag (not excluded): the flag is
      // what lets the next run's delta skip them and what distinguishes
      // "newly crossed the guard" (erase the stale vector) from "known
      // over-long" (nothing to erase). Changed paths take the guard's
      // verdict (from the cached `guarded`, not a second content read),
      // unchanged paths carry their previous flag; gone paths drop out.
      // The index-before-state order keeps the crash contract: a crash
      // between the two re-derives the same delta AND the same tombstones
      // next run — the upsert and its erasures are idempotent
      // (at-least-once, the main.py:185-188 commit-order contract extended
      // to erasure).
      state.write(snap.filter(!isGone)
        .join(guarded.select(col("path"), col("too_long").as("verdict")), Seq("path"), "left_outer")
        .select(col("path"), col("mtime").as("last_edit_time"),
          coalesce(col("verdict"), col("too_long"), lit(false)).as("too_long")))
      Report(scanned, changed, tooLong, okCount, goneN, dryRun)
    } finally cached.foreach(_.unpersist())
  }
}
