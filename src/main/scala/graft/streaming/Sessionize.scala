package graft.streaming

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp

final case class SessionEvent(user_id: Long, ts: Timestamp, event_id: Long)

/** Per-user state carried across micro-batches: the id of the CURRENT (still
  * open) session plus its running summary, and the end of the most recently
  * FINALIZED session (`Long.MinValue` = none) — the boundary that decides
  * whether an out-of-order arrival can still be merged exactly. `openCount
  * == 0` means no open session (fresh key). Timestamps are full-precision
  * epoch micros so the cross-batch gap test is identical to the in-batch one.
  */
final case class SessionState(openSessId: Long, openCount: Long,
                              openStartUs: Long, openEndUs: Long,
                              lastFinalEndUs: Long)
final case class SessionOut(user_id: Long, sess_id: Long, n_events: Long,
                            session_start: String, session_end: String)

/** Gap-based sessionization — the classic stateful-streaming operator, in two
  * equivalent forms:
  *
  *  - [[batch]]: window lag + cumulative sum (fully relational, shuffles once
  *    on user_id; SQL-expressible => DuckDB-oracle-checked as q36);
  *  - [[streaming]]: `flatMapGroupsWithState` over the file source with
  *    `Trigger.AvailableNow` — per-key session counters persist in the state
  *    store across micro-batches. Unit-tested to agree with [[batch]].
  *
  * At cluster scale both shuffle once by user_id; the streaming form holds
  * O(users) state, the batch form is stateless.
  */
object Sessionize {
  private val fmt     = "yyyy-MM-dd HH:mm:ss"

  def batch(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000000L
    val w      = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val prevUs = lag(unix_micros(col("ts")), 1).over(w)
    Tables.events(spark, dir)
      .select("user_id", "ts", "event_id")
      .withColumn("new_sess",
        when(prevUs.isNull || (unix_micros(col("ts")) - prevUs) > gapUs, 1).otherwise(0))
      .withColumn("sess_id",
        sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(count(lit(1)).as("n_events"),
        date_format(min("ts"), fmt).as("session_start"),
        date_format(max("ts"), fmt).as("session_end"))
      .orderBy("user_id", "sess_id")
  }

  /** Stateful streaming sessionization, drained synchronously. Exact across
    * micro-batch boundaries: the open (trailing) session is buffered in
    * [[SessionState]], so a later batch extends or closes it instead of
    * splitting it. Each batch also emits the open session *provisionally*
    * under its final session id — Append mode cannot retract, so a session
    * spanning batches is emitted once per batch, each time with a larger
    * event count; the post-stream reconciliation keeps the latest version
    * (max n_events per (user_id, sess_id)). With a single batch this
    * degenerates to exactly the one-shot behavior; with many batches it
    * equals [[batch]] — including OUT-OF-ORDER arrivals, which merge exactly
    * into the open session wherever the global sort would have placed them:
    * inside its [start, end] span (count grows, extent fixed) or within
    * `gap` BEFORE its start — including CHAIN-BRIDGED backfills, where a
    * batch's later pre-start event brings the start within gap-reach of an
    * earlier one (the session extends backwards; reconciliation keeps the
    * latest version). The one thing Append-mode streaming cannot do is
    * rewrite a FINALIZED session — an arrival within `gap` of the last
    * finalized end (it would merge into it) or > `gap` before the
    * (chain-extended) open start (it would insert a new session before an
    * already-numbered one) fails
    * the query with `IllegalStateException` rather than silently diverging
    * from [[batch]]: a hard exactness contract, not a warn-and-drift.
    */
  def streaming(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame =
    streamingFrom(spark, dir, schemaFrom = s"$dir/events.parquet",
      glob = "events.parquet", gapMinutes = gapMinutes, maxFilesPerTrigger = None)

  /** [[streaming]] with explicit source layout — lets tests drive a
    * multi-file input one file per micro-batch (`maxFilesPerTrigger=1`) to
    * exercise the cross-batch session carry.
    */
  def streamingFrom(spark: SparkSession, dir: String, schemaFrom: String,
                    glob: String, gapMinutes: Int,
                    maxFilesPerTrigger: Option[Int]): DataFrame = {
    import spark.implicits._
    val gapUs  = gapMinutes * 60L * 1000000L
    // format in the session timezone so output strings match batch()'s
    // date_format regardless of spark.sql.session.timeZone
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val raw = StreamingAgg.streamTable(spark, dir, glob, Some(schemaFrom), maxFilesPerTrigger)
    // normalize ts exactly like Tables.events (long nanos OR NTZ micros)
    val ev = graft.Tables.normalizeTs(raw)
      .select(col("user_id"), col("ts"), col("event_id")).as[SessionEvent]

    val sessions = ev
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, events: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          val sdf = new java.text.SimpleDateFormat(fmt)
          sdf.setTimeZone(java.util.TimeZone.getTimeZone(tz))
          // full-microsecond epoch (getTime alone is ms-truncated — the batch
          // form compares unix_micros, so the gap test must too)
          def micros(t: Timestamp): Long =
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
          def toTs(us: Long): Timestamp = {
            val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
            t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
            t
          }
          val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val st = state.getOption.getOrElse(SessionState(1L, 0L, 0L, 0L, Long.MinValue))
          var sessId    = st.openSessId
          var curCount  = st.openCount
          var curStart  = st.openStartUs
          var curEnd    = st.openEndUs
          var lastFinal = st.lastFinalEndUs
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
          // Out-of-order arrival BEFORE the open session's start: within
          // gap-reach the global sort would put it at the session's head —
          // extend backwards (reconciliation keeps the larger version).
          // Otherwise the batch semantics are unreproducible in Append mode
          // and the query fails loudly rather than silently diverging.
          def extendBackward(us: Long): Unit = {
            if (lastFinal != Long.MinValue && us - lastFinal <= gapUs)
              throw new IllegalStateException(
                s"sessionize exactness contract violated for user $uid: event at " +
                  s"${us}us is within the $gapMinutes-minute gap of the FINALIZED " +
                  s"session ending ${lastFinal}us — Append-mode streaming cannot " +
                  "retract an emitted session; replay from a checkpoint before it")
            if (curStart - us > gapUs)
              throw new IllegalStateException(
                s"sessionize exactness contract violated for user $uid: event at " +
                  s"${us}us forms a NEW session more than $gapMinutes minutes before " +
                  s"the open session starting ${curStart}us, whose id is already " +
                  "assigned — Append-mode streaming cannot renumber emitted sessions")
            curStart = us; curCount += 1
          }
          // Pre-start arrivals must be applied LATEST-FIRST: a batch [40, 60]
          // against an open start of 100 (gap 50) is exactly mergeable — 60
          // bridges to 100, then 40 bridges to 60 — but ascending order would
          // test 40 against 100 and wrongly fail the contract. The global sort
          // chains gaps pairwise, so the contract check must see each bridge
          // before the next, i.e. descending. Sorted ascending, pre-start
          // events form a prefix (later in-batch events can't precede a start
          // the state carried in).
          val (preStart, rest) =
            if (curCount > 0) sorted.span(e => micros(e.ts) < curStart)
            else (Seq.empty[SessionEvent], sorted)
          preStart.reverseIterator.foreach(e => extendBackward(micros(e.ts)))
          rest.foreach { e =>
            val us = micros(e.ts)
            if (curCount == 0) { curStart = us; curEnd = us; curCount = 1 }
            else if (us > curEnd) {
              if (us - curEnd > gapUs) {
                // gap exceeded: the open session is final — emit and advance
                out += ((sessId, curCount, curStart, curEnd))
                lastFinal = curEnd
                sessId += 1
                curStart = us; curEnd = us; curCount = 1
              } else { curEnd = us; curCount += 1 }
            } else if (us >= curStart) {
              // out-of-order arrival INSIDE the open session's span: the
              // global sort would place it between existing events, where it
              // can only shrink gaps — count it, extent unchanged. Exact.
              curCount += 1
            } else extendBackward(us) // unreachable after the prefix pass
          }
          // provisional emission of the still-open session (re-emitted with a
          // larger count if a later batch extends it; reconciled downstream)
          if (curCount > 0) out += ((sessId, curCount, curStart, curEnd))
          state.update(SessionState(sessId, curCount, curStart, curEnd, lastFinal))
          out.iterator.map { case (s, n, stUs, enUs) =>
            SessionOut(uid, s, n, sdf.format(toTs(stUs)), sdf.format(toTs(enUs)))
          }
        })

    // reconciliation: a session emitted in k batches has k versions with
    // strictly growing n_events — keep the latest (struct max orders by
    // n_events first; start is fixed and end grows with the count)
    StreamingAgg.drain(sessions.toDF(), "graft_sessions", "append")
      .groupBy("user_id", "sess_id")
      .agg(max(struct(col("n_events"), col("session_start"), col("session_end"))).as("__s"))
      .select(col("user_id"), col("sess_id"), col("__s.n_events").as("n_events"),
        col("__s.session_start").as("session_start"), col("__s.session_end").as("session_end"))
      .orderBy("user_id", "sess_id")
  }

  /** Watermarked sliding-window counts through the streaming engine —
    * demonstrates event-time windows + watermark on the file source.
    */
  def windowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val agg = StreamingAgg.streamTable(spark, dir, "orders.parquet")
      // parquet ms timestamps read as NTZ; watermarks require TIMESTAMP_LTZ
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
      .withWatermark("o_orderdate", "1 day")
      .groupBy(window(col("o_orderdate"), "30 days", "15 days"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd").as("win_start"), col("n"))
    StreamingAgg.drain(agg, "graft_wincounts", "append").orderBy("win_start")
  }
}
