package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.sources.{Tables, VersionedTable}

/** Streaming ingest (SURVEY.md §2.7): the reference has no streaming path —
  * new facts arrive by unspecified batch loads. The engine adds the
  * Structured-Streaming ingest the `events` table implies: move events →
  * watermarked tumbling daily windows → the same `forecasting_data` shape
  * the batch pipeline consumes.
  *
  * The SAME transform runs in both batch and streaming (Structured
  * Streaming's unified Dataset model): batch mode answers the oracle-
  * verified s01 query; streaming mode runs incrementally with a 1-day
  * watermark bounding state. At scale: state is keyed by
  * (day-window, branch) — bounded by |branches| per day, trivially small;
  * the shuffle is the same partial-aggregated groupBy as batch.
  */
object Ingest {

  /** Raw events → the moves-fact shape, keeping the event-time timestamp
    * (FIXTURES.md §3 mapping with `ts` preserved for windowing).
    */
  def eventsToMoves(events: DataFrame): DataFrame =
    events.select(
      col("ts"),
      concat(lit("B"), pmod(col("user_id"), lit(Tables.BranchCount.toLong)).cast("string"))
        .as("branch"),
      col("event_type").as("move_type"),
      lit(1.0).as("cnt"))

  /** Tumbling daily counts per branch. Streaming inputs get a 1-day
    * watermark (late events beyond it are dropped and state is reclaimed);
    * batch inputs run the identical aggregation.
    */
  def dailyCounts(moves: DataFrame): DataFrame = {
    val src = if (moves.isStreaming) moves.withWatermark("ts", "1 day") else moves
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("branch"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(to_date(col("w.start")).as("ds"), col("branch"), col("cnt"))
  }

  /** The ingest SINK: stream daily counts into the snapshot table the
    * batch pipelines read (`table.read(spark)`, in the forecasting_data
    * shape with `ds` a date). Each micro-batch is one key-upsert on the
    * aggregation key (ds, branch): update mode re-emits a key's NEW total,
    * so the upsert replaces that key's row and leaves the day's unchanged
    * keys alone — an append would keep both totals. The checkpoint makes
    * the stream exactly-once per micro-batch, and a batch replayed after a
    * crash re-upserts the same rows, so no replay tag is needed; so does a
    * batch that lost a [[graft.sources.CommitConflictException]] to
    * another writer, once the stream restarts. Readers see the previous
    * snapshot or the new one, never a half-written batch — the streaming
    * analog of the reference's upsert (precompute_percentages.py:218-233).
    */
  def streamDailyCountsToTable(
      moves: DataFrame,
      table: VersionedTable,
      checkpointPath: String): StreamingQuery =
    upsertEachBatch(dailyCounts(moves), table, Seq("ds", "branch"), checkpointPath)

  /** The sinks' shared micro-batch body: upsert `counts`' changed rows on
    * `key`, unpartitioned. A batch with no rows (one run only to advance
    * the watermark) commits nothing.
    */
  private def upsertEachBatch(
      counts: DataFrame,
      table: VersionedTable,
      key: Seq[String],
      checkpointPath: String): StreamingQuery =
    counts.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the merge reads the batch twice (its keys and its rows): compute
        // the stateful aggregation once
        batch.persist()
        try if (!batch.isEmpty) table.upsert(batch.sparkSession, batch, key)
        finally batch.unpersist()
        ()
      }
      .start()

  // -------------------------------------------------------------------
  // Custom state: gap-based sessionization via flatMapGroupsWithState —
  // the KeyValueGroupedDataset custom-state surface the brief names. Used
  // here to segment a user's move-booking events into visits (a burst of
  // events with < gap between them); sessions close when the event-time
  // watermark passes the gap.
  // -------------------------------------------------------------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, start: java.sql.Timestamp, end: java.sql.Timestamp, n_events: Int)

  /** Streaming sessionization: per-user event bursts separated by >= gap
    * become distinct sessions, emitted when the watermark passes
    * last-event + gap (EventTimeTimeout — state is bounded by active
    * users, reclaimed on close). Input needs columns (user_id, ts);
    * `events` must carry a watermark when streaming.
    */
  def sessionize(events: Dataset[SessionEvent], gapMs: Long): Dataset[Session] = {
    implicit val stateEnc = Encoders.product[SessionState]
    implicit val outEnc = Encoders.product[Session]
    implicit val keyEnc = Encoders.scalaLong
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, evs: Iterator[SessionEvent], state: GroupState[SessionState]) => {
          def toSession(s: SessionState): Session =
            Session(user, new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n)
          if (state.hasTimedOut) {
            // watermark passed last + gap: close and emit the session
            val out = state.getOption.map(toSession).iterator
            state.remove()
            out
          } else {
            // fold sorted events into the open session, emitting any
            // session closed by an in-batch gap
            val sorted = evs.map(_.ts.getTime).toSeq.sorted
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { t =>
              cur match {
                case Some(s) if t - s.last < gapMs =>
                  cur = Some(SessionState(s.start, math.max(s.last, t), s.n + 1))
                case Some(s) =>
                  closed ::= toSession(s)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
        })
  }

  /** At-least-once → effectively-once ingest bridge: drop re-delivered
    * events by id. Streaming inputs use dropDuplicatesWithinWatermark —
    * dedup state is keyed by the id columns and RECLAIMED as the event-time
    * watermark advances, so state is bounded by the delivery-delay horizon
    * (the watermark), not the stream's lifetime; a plain streaming
    * dropDuplicates would grow state forever.
    *
    * Batch inputs run dropDuplicates over the whole input. The CONTRACT
    * both paths share is one-row-per-id; they are NOT otherwise
    * interchangeable: when redeliveries carry differing payloads the
    * streaming path keeps the first arrival while batch keeps an
    * arbitrary row, and a redelivery later than `delay` is deduped by
    * batch (unbounded horizon) but re-emitted by streaming. True
    * duplicates — the at-least-once case this exists for — are identical
    * rows, where both paths agree exactly.
    *
    * @param tsCol event-time column carrying the watermark
    * @param delay how late a redelivery can arrive and still be deduped
    */
  def dedupEvents(
      events: DataFrame,
      idCols: Seq[String],
      tsCol: String = "ts",
      delay: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(idCols)
    else events.dropDuplicates(idCols)

  /** Batch sessionization — the gaps-and-islands restatement of
    * [[sessionize]]: a new session starts where the gap from the previous
    * event reaches `gapMs`; the session id is the running count of starts.
    * Declarative window functions, so Catalyst plans it as two window
    * passes over ONE shuffle on user_id and DuckDB can verify it with the
    * identical SQL — which also pins the streaming path, since
    * IngestSpec asserts streaming sessionize output matches this batch
    * operator on the same events (the last-open-session difference aside:
    * streaming emits a session only when the watermark passes its gap).
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    val byUser = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    val withStart = events
      .select(col("user_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn(
        "is_start",
        // cast("timestamp") first: unix_millis rejects TIMESTAMP_NTZ (the
        // current testdata's physical shape) and the cast is a no-op on
        // session-tz input; the session is pinned UTC so NTZ values map
        // to the same instant either way
        (col("prev_ts").isNull ||
          (unix_millis(col("ts").cast("timestamp")) -
            unix_millis(col("prev_ts").cast("timestamp")) >= gapMs)).cast("long"))
      .withColumn("session_seq", sum(col("is_start")).over(
        byUser.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    withStart
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("start"),
        max(col("ts")).as("end"),
        count(lit(1)).cast("long").as("n_events"))
      .select("user_id", "session_seq", "start", "end", "n_events")
  }

  /** Per-(branch, move_type) daily counts — the `historical_data` shape. */
  def dailyCountsByType(moves: DataFrame): DataFrame = {
    val src = if (moves.isStreaming) moves.withWatermark("ts", "1 day") else moves
    src
      .groupBy(window(col("ts"), "1 day").as("w"), col("branch"), col("move_type"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(to_date(col("w.start")).as("ds"), col("branch"), col("move_type"), col("cnt"))
  }

  /** Windowed event-type counts — the "trending items" aggregate,
    * streaming-able exactly like [[dailyCounts]]: tumbling event-time
    * windows with a 1-hour watermark bounding state in stream mode,
    * state keyed by (window, event_type) — |types| rows per window,
    * trivially bounded. The window start comes out formatted so both
    * engines (and the sink) compare it as a plain string.
    */
  def windowEventCounts(events: DataFrame, windowDur: String = "6 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("cnt"))
  }

  /** HOPPING (sliding) window counts — [[windowEventCounts]]' other
    * window shape: length `windowDur`, a new window every `slideDur`,
    * so each event lands in `windowDur/slideDur` overlapping windows
    * (the smoother trend line dashboards want — a spike decays over
    * several overlapping readings instead of vanishing at a tumbling
    * boundary). Same batch/stream duality; streaming state is
    * `windows-per-event × |types|` rows per slide — still bounded.
    */
  def hoppingEventCounts(
      events: DataFrame,
      windowDur: String = "6 hours",
      slideDur: String = "3 hours"): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src
      .groupBy(window(col("ts"), windowDur, slideDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("cnt"))
  }

  /** Stream-stream interval join — the conversion-attribution pairing:
    * every `left` event (a view) matched to every same-user `right`
    * event (a purchase) that lands within `maxLag` AFTER it. The one
    * §2.7 Structured-Streaming state shape the window aggregates don't
    * cover: two live streams joined on key + event-time range.
    *
    * Batch/stream duality like the window counts: a batch input runs
    * the identical equi-join + BETWEEN predicate (the oracle surface,
    * s06); streaming inputs get watermarks on BOTH sides so Spark can
    * bound the join state — the time-range condition tells it a
    * buffered left row is joinable only until watermark passes
    * `l.ts + maxLag`, at which point its state is evicted. Without the
    * range bound a stream-stream inner join would hold both streams
    * forever; this is the published state-cleanup contract
    * (Spark docs "Inner Joins with optional Watermarking").
    *
    * Scale shape: one shuffle of each stream on `user_id`, state
    * bounded by rows-per-user within the watermark+lag horizon. Skewed
    * hot users bound their own state by the same horizon; at 100 TB the
    * horizon (1 h here) is the knob. Output grain: one row per
    * qualifying (left, right) pair with the lag in seconds — integral
    * (micros truncated to whole seconds) so the hash gate compares
    * exactly.
    *
    * `joinType = "left_outer"` keeps unmatched left rows null-extended —
    * the abandonment report (views that never converted). Streaming
    * semantics follow the published contract: an outer result emits only
    * once the watermark proves no match can still arrive (so a
    * processAllAvailable over a finite test stream needs a closing
    * late batch to flush them); batch mode is a plain left join — the
    * oracle surface (s07).
    */
  def intervalPairs(
      left: DataFrame,
      right: DataFrame,
      maxLag: String = "1 hour",
      watermark: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    require(joinType == "inner" || joinType == "left_outer",
      s"intervalPairs supports inner and left_outer, got: $joinType")
    val l0 = left.select(
      col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_event_id"))
    val r0 = right.select(
      col("user_id").as("r_user_id"), col("ts").as("r_ts"),
      col("event_id").as("r_event_id"), col("value").as("r_value"))
    val (l, r) =
      if (left.isStreaming || right.isStreaming)
        (l0.withWatermark("l_ts", watermark), r0.withWatermark("r_ts", watermark))
      else (l0, r0)
    l.join(
        r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $maxLag"),
        joinType)
      .select(
        col("user_id"), col("l_event_id"), col("r_event_id"),
        ((unix_micros(col("r_ts").cast("timestamp")) -
          unix_micros(col("l_ts").cast("timestamp"))) / 1000000L)
          .cast("long").as("lag_s"),
        col("r_value"))
  }

  /** Top-k per window over [[windowEventCounts]] output — the rank pass
    * runs BATCH over the counts table (two stateful operators cannot
    * chain in one stream; the standard layout is stream-aggregate →
    * sink → rank closed windows). filter-over-row_number compiles to
    * WindowGroupLimit (pinned by PlanAudit: ~k rows survive per
    * partition BEFORE the rank shuffle); ties break on event_type so
    * the k boundary is engine-stable.
    */
  def trendingTopK(counts: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w_start").orderBy(col("cnt").desc, col("event_type"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Ingest sink in the `historical_data` (per-move-type) shape — the
    * table `Percentages.refreshMonths` re-aggregates in the nightly cycle.
    * Same per-batch key-upsert as [[streamDailyCountsToTable]], on the
    * aggregation key (ds, branch, move_type). IngestSpec drives the full
    * stream -> refresh -> serving-join loop through it.
    */
  def streamDailyCountsByTypeToTable(
      moves: DataFrame,
      table: VersionedTable,
      checkpointPath: String): StreamingQuery =
    upsertEachBatch(dailyCountsByType(moves), table, Seq("ds", "branch", "move_type"), checkpointPath)

  // -------------------------------------------------------------------
  // Streaming corpus builder: the production crawl-ingest loop — each
  // micro-batch of documents is deduped within itself and against the
  // already-committed corpus, and the survivors are APPENDED as a new
  // snapshot. Composes the three 100 TB pieces end to end: streaming
  // ingest, incremental inverted-index dedup
  // (Dedup.jaccardNearDupsAgainst), and O(batch) snapshot commits
  // (VersionedTable.appendCommit).
  // -------------------------------------------------------------------

  /** Start a stream that grows `corpus` with near-dup-free documents.
    *
    * Per micro-batch (checkpointed, so a restart resumes at the failed
    * batch; appendCommit's put-if-absent record makes the commit atomic,
    * and the batch-id tag on each snapshot makes the commit IDEMPOTENT —
    * a replay of an already-committed batch is skipped, closing the
    * crash-between-commit-and-checkpoint double-append window):
    *   1. exact-dedup WITHIN the batch (smallest doc_id survives);
    *   2. drop batch docs whose n-gram Jaccard against any committed
    *      corpus doc reaches `threshold` — the asymmetric df-capped
    *      inverted index, so cost is batch-x-corpus-candidates, never
    *      corpus self-pairs;
    *   3. append the survivors: O(batch) bytes written, corpus files
    *      carried by manifest reference.
    *
    * Duplicate-vs-self WITHIN a batch beyond exact (two near-dup docs in
    * one batch, neither in the corpus) is intentionally left to the next
    * nightly full pass ([[graft.operators.Dedup.jaccardNearDups]]) —
    * the same batch-now/global-later split production pipelines use.
    *
    * The batch frame is streaming-sourced; jaccardNearDupsAgainst
    * aggregates it multiple times, so it is localCheckpointed here first
    * (foreachBatch hands us a re-playable but per-action re-evaluated
    * frame).
    */
  /** @param shingleIndex optional postings table (doc_id, shingle) that
    *        mirrors the committed corpus — the incremental-index fast
    *        path: with it, a batch never re-reads or re-tokenizes the
    *        corpus TEXT (the O(corpus)-per-batch cost of the plain path);
    *        it reads compact postings, and each accepted batch appends
    *        its own shingles (O(batch) write). Coherence is a tag on the
    *        index recording which corpus version it mirrors — a crash
    *        between the two commits, or any out-of-band corpus write,
    *        makes the tag mismatch and the next batch falls back to the
    *        corpus text and HEALS the index with a full rewrite.
    */
  def streamDedupedCorpus(
      docs: org.apache.spark.sql.DataFrame,
      corpus: graft.sources.VersionedTable,
      checkpointPath: String,
      threshold: Double = 0.5,
      minShared: Int = 2,
      maxShingleDf: Int = 100,
      shingleIndex: Option[graft.sources.VersionedTable] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    // one cursor per stream: the replay-guard tag scan reads each retained
    // version's commit record ONCE across the stream's lifetime instead of
    // once per micro-batch (per-batch I/O would grow with retained
    // versions until vacuum)
    val tagCursor = corpus.tagCursor()
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointPath)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val tag = s"batch-$batchId"
        def mirrorTag(v: Long) = s"corpus-v$v"
        // replay guard: a crash AFTER appendCommit but BEFORE the
        // streaming checkpoint advances re-delivers this batch, and the
        // near-dup filter does not reliably catch the replay (short docs
        // produce < minShared shingles; ubiquitous shingles exceed the df
        // cap) — the snapshot tags do, exactly once. ALL retained tags,
        // not just the head's: an interleaved commit by another writer
        // (the nightly full pass) must not reopen the window
        if (!tagCursor.committedTags().contains(tag)) {
          // drop every RDD this batch pins (the batch checkpoint plus the
          // ones inside the dedup) once the commit is down: nothing
          // outlives the batch, so a long-running stream holds O(one
          // batch) of checkpoint blocks instead of growing without
          // bound. Scoped to ids created during the batch — a session
          // running concurrent persisting jobs should isolate streams.
          val before = spark.sparkContext.getPersistentRDDs.keySet
          try {
            val fresh = graft.operators.Dedup.dropExactDuplicates(batch.localCheckpoint())
            val prevVersion = corpus.latestVersion()
            // the index is usable only if its tag says it mirrors the
            // corpus version this batch dedups against
            val coherentIndex = (shingleIndex, prevVersion) match {
              case (Some(idx), Some(v)) if idx.latestTag().contains(mirrorTag(v)) =>
                Some(idx.read(spark))
              case _ => None
            }
            val survivors = (prevVersion, coherentIndex) match {
              case (None, _) => fresh
              case (Some(_), Some(postings)) =>
                val dupIds = graft.operators.Dedup
                  .jaccardNearDupsAgainstPostings(fresh, postings, threshold, minShared, maxShingleDf)
                  .select(col("batch_id").as("doc_id")).distinct()
                fresh.join(dupIds, Seq("doc_id"), "left_anti")
              case (Some(v), None) =>
                val existing = corpus.readVersion(spark, v)
                val dupIds = graft.operators.Dedup
                  .jaccardNearDupsAgainst(fresh, existing, threshold, minShared, maxShingleDf)
                  .select(col("batch_id").as("doc_id")).distinct()
                fresh.join(dupIds, Seq("doc_id"), "left_anti")
            }
            // reused by the corpus commit AND the index append
            val survivorsC = survivors.localCheckpoint()
            val newVersion = corpus.appendCommit(survivorsC, Some(tag))
            shingleIndex.foreach { idx =>
              val freshShingles = graft.operators.TextOps.shingles(survivorsC, 3)
              if (prevVersion.isEmpty)
                // first corpus snapshot: a SELF-CONTAINED index commit —
                // an append could carry stale postings from an
                // out-of-band index write
                idx.commit(freshShingles, tag = Some(mirrorTag(newVersion)))
              else if (coherentIndex.isDefined)
                // fast path: the index mirrored v, append this batch's
                // shingles and it mirrors newVersion — O(batch) write
                idx.appendCommit(freshShingles, Some(mirrorTag(newVersion)))
              else
                // heal: rebuild the postings from the corpus head (the
                // one full pass; every subsequent batch appends again)
                idx.commit(
                  graft.operators.TextOps.shingles(corpus.readVersion(spark, newVersion), 3),
                  tag = Some(mirrorTag(newVersion)))
            }
          } finally {
            spark.sparkContext.getPersistentRDDs
              .foreach { case (id, rdd) => if (!before.contains(id)) rdd.unpersist(blocking = false) }
          }
        }
        ()
      }
      .start()
  }
}
