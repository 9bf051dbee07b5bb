package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.VersionedTable
import graft.streaming.Ingest

/** Structured-Streaming smoke tests: the shared dailyCounts transform run
  * incrementally must agree with its batch run, and the 1-day watermark
  * must drop sufficiently-late events.
  */
class IngestSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  val sample = Seq(
    (ts("2024-01-10 08:00:00"), 1L, "click"),
    (ts("2024-01-10 09:30:00"), 111L, "view"), // 111 % 110 = 1 — same branch
    (ts("2024-01-10 23:59:59"), 2L, "click"),
    (ts("2024-01-11 00:00:01"), 2L, "error"),
    (ts("2024-01-12 12:00:00"), 3L, "click"))

  test("streaming dailyCounts equals the batch run on the same events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val streamDf = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Ingest.dailyCounts(Ingest.eventsToMoves(streamDf))
      .writeStream.format("memory").queryName("s_daily").outputMode("complete").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_daily")
        .select(col("ds").cast("string"), col("branch"), col("cnt"))
      val batch = Ingest.dailyCounts(
        Ingest.eventsToMoves(sample.toDF("ts", "user_id", "event_type")))
        .select(col("ds").cast("string"), col("branch"), col("cnt"))
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      // branch collision check: user 1 and 111 both land in B1 on the 10th
      val b1 = streamed.filter(col("ds") === "2024-01-10" && col("branch") === "B1").head()
      assert(b1.getAs[Double]("cnt") === 2.0)
    } finally q.stop()
  }

  test("streaming windowEventCounts equals batch; trendingTopK ranks with stable ties") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val streamDf = mem.toDF().toDF("ts", "event_type")
    val q = Ingest.windowEventCounts(streamDf, "6 hours")
      .writeStream.format("memory").queryName("s_trend").outputMode("complete").start()
    val data = Seq(
      (ts("2024-01-10 01:00:00"), "click"), (ts("2024-01-10 02:00:00"), "click"),
      (ts("2024-01-10 03:00:00"), "view"), (ts("2024-01-10 04:00:00"), "view"),
      (ts("2024-01-10 05:00:00"), "error"),
      (ts("2024-01-10 07:00:00"), "view")) // second window
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_trend")
      val batch = Ingest.windowEventCounts(data.toDF("ts", "event_type"), "6 hours")
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
      // top-k: counts tie at 2 between click and view in window 1 —
      // the event_type tie-break makes click rank 1
      val top = Ingest.trendingTopK(batch, 2).collect()
        .map(r => (r.getString(0), r.getLong(3)) -> (r.getString(1), r.getLong(2)))
        .toMap
      assert(top(("2024-01-10 00:00:00", 1L)) === (("click", 2L)))
      assert(top(("2024-01-10 00:00:00", 2L)) === (("view", 2L)))
      assert(top(("2024-01-10 06:00:00", 1L)) === (("view", 1L)))
      assert(top.size === 3) // k=2 cap held, second window has one type
    } finally q.stop()
  }

  test("hoppingEventCounts: every event lands in exactly two overlapping windows; stream equals batch") {
    implicit val sqlCtx = spark.sqlContext
    val data = Seq(
      (ts("2024-01-10 04:00:00"), "click"),  // windows 00:00 and 03:00
      (ts("2024-01-10 04:30:00"), "click"),
      (ts("2024-01-10 07:00:00"), "view"))   // windows 03:00 and 06:00
    val batch = Ingest.hoppingEventCounts(data.toDF("ts", "event_type"), "6 hours", "3 hours")
    val cells = batch.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells(("2024-01-10 00:00:00", "click")) === 2L)
    assert(cells(("2024-01-10 03:00:00", "click")) === 2L)
    assert(cells(("2024-01-10 03:00:00", "view")) === 1L)
    assert(cells(("2024-01-10 06:00:00", "view")) === 1L)
    assert(cells.size === 4)
    // each event contributes to exactly windowDur/slideDur = 2 windows
    assert(cells.values.sum === data.size * 2L)
    val mem = MemoryStream[(Timestamp, String)]
    val q = Ingest.hoppingEventCounts(mem.toDF().toDF("ts", "event_type"), "6 hours", "3 hours")
      .writeStream.format("memory").queryName("s_hop").outputMode("complete").start()
    try {
      mem.addData(data: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_hop")
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("intervalPairs: stream-stream join equals batch; range bound excludes out-of-horizon pairs") {
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      (10L, ts("2024-01-10 10:00:00"), 1L),       // pairs with 20 (30 min) and 21 (60 min, inclusive)
      (11L, ts("2024-01-10 12:00:00"), 2L))       // no purchase inside its hour
    val purchases = Seq(
      (20L, ts("2024-01-10 10:30:00"), 1L, 9.5),
      (21L, ts("2024-01-10 11:00:00"), 1L, 2.0),  // exactly at the 1h bound — inclusive
      (22L, ts("2024-01-10 09:50:00"), 1L, 4.0),  // BEFORE the view — excluded
      (23L, ts("2024-01-10 13:30:00"), 2L, 1.0))  // 90 min after view 11 — excluded
    val vDf = views.toDF("event_id", "ts", "user_id")
    val pDf = purchases.toDF("event_id", "ts", "user_id", "value")
    val batch = Ingest.intervalPairs(vDf, pDf, "1 hour")
    val got = batch.orderBy("l_event_id", "r_event_id").collect()
      .map(r => (r.getAs[Long]("l_event_id"), r.getAs[Long]("r_event_id"),
        r.getAs[Long]("lag_s"), r.getAs[Double]("r_value")))
    assert(got.toSeq === Seq((10L, 20L, 1800L, 9.5), (10L, 21L, 3600L, 2.0)))
    val memV = MemoryStream[(Long, Timestamp, Long)]
    val memP = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = Ingest.intervalPairs(
      memV.toDF().toDF("event_id", "ts", "user_id"),
      memP.toDF().toDF("event_id", "ts", "user_id", "value"),
      "1 hour")
      .writeStream.format("memory").queryName("s_pairs").outputMode("append").start()
    try {
      memV.addData(views: _*)
      memP.addData(purchases: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_pairs")
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  test("intervalPairs left_outer: abandoned views null-extend; stream flushes them after the watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val views = Seq(
      (10L, ts("2024-01-10 10:00:00"), 1L),
      (11L, ts("2024-01-10 12:00:00"), 2L))     // abandoned: no purchase in its hour
    val purchases = Seq(
      (20L, ts("2024-01-10 10:30:00"), 1L, 9.5),
      (23L, ts("2024-01-10 13:30:00"), 2L, 1.0)) // 90 min late — view 11 stays unmatched
    val vDf = views.toDF("event_id", "ts", "user_id")
    val pDf = purchases.toDF("event_id", "ts", "user_id", "value")
    val batch = Ingest.intervalPairs(vDf, pDf, "1 hour", joinType = "left_outer")
    val got = batch.orderBy("l_event_id").collect()
      .map(r => (r.getAs[Long]("l_event_id"), Option(r.getAs[Any]("r_event_id"))))
    assert(got.toSeq === Seq((10L, Some(20L)), (11L, None)))
    val memV = MemoryStream[(Long, Timestamp, Long)]
    val memP = MemoryStream[(Long, Timestamp, Long, Double)]
    val q = Ingest.intervalPairs(
      memV.toDF().toDF("event_id", "ts", "user_id"),
      memP.toDF().toDF("event_id", "ts", "user_id", "value"),
      "1 hour", joinType = "left_outer")
      .writeStream.format("memory").queryName("s_lpairs").outputMode("append").start()
    try {
      memV.addData(views: _*)
      memP.addData(purchases: _*)
      q.processAllAvailable()
      // the outer row for view 11 may not emit yet: the watermark has to
      // pass l_ts + maxLag first. Advance it on BOTH streams with
      // sentinel events (distinct users — they produce no pairs, and the
      // sentinel view itself stays pending past ITS horizon, so neither
      // lands in the checked output).
      memV.addData((98L, ts("2024-01-11 02:00:00"), 98L))
      memP.addData((99L, ts("2024-01-11 02:00:00"), 99L, 0.0))
      q.processAllAvailable()
      val streamed = spark.table("s_lpairs")
        .filter(col("l_event_id") < 90L) // drop the sentinel horizon
      assert(streamed.exceptAll(batch).count() === 0)
      assert(batch.exceptAll(streamed).count() === 0)
    } finally q.stop()
  }

  private def freshTable(prefix: String): VersionedTable =
    VersionedTable(java.nio.file.Files.createTempDirectory(prefix).toString + "/t")

  test("streamed daily counts land in a partitioned table the batch side reads") {
    implicit val sqlCtx = spark.sqlContext
    val table = freshTable("graft_stream_tbl")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_stream_ckpt").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Ingest.streamDailyCountsToTable(
      Ingest.eventsToMoves(mem.toDF().toDF("ts", "user_id", "event_type")),
      table, ckptDir)
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      val landed = table.read(spark)
      val batch = Ingest.dailyCounts(
        Ingest.eventsToMoves(sample.toDF("ts", "user_id", "event_type")))
      assert(landed.schema("ds").dataType === org.apache.spark.sql.types.DateType)
      assert(landed.exceptAll(batch).count() === 0 && batch.exceptAll(landed).count() === 0)
      // second micro-batch updates the 12th's count in place (no dup rows)
      mem.addData((ts("2024-01-12 13:00:00"), 3L, "view"))
      q.processAllAvailable()
      val day12 = table.read(spark)
        .filter(col("ds") === "2024-01-12" && col("branch") === "B3")
      assert(day12.count() === 1)
      assert(day12.head().getAs[Double]("cnt") === 2.0)
      // one snapshot per batch with rows: a batch run only to advance the
      // watermark commits nothing
      assert(table.versions() === Seq(0L, 1L))
    } finally q.stop()
  }

  test("update-mode sink: updating one branch never deletes the day's other branches") {
    // update mode re-emits only CHANGED rows, so each batch must replace
    // exactly the keys it carries and keep the day's unchanged groups
    implicit val sqlCtx = spark.sqlContext
    val table = freshTable("graft_grain_tbl")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_grain_ckpt").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Ingest.streamDailyCountsToTable(
      Ingest.eventsToMoves(mem.toDF().toDF("ts", "user_id", "event_type")), table, ckptDir)
    try {
      // batch 1: two branches on the same day
      mem.addData((ts("2024-01-10 08:00:00"), 1L, "click"), (ts("2024-01-10 09:00:00"), 2L, "view"))
      q.processAllAvailable()
      // batch 2: one more event for B1 ONLY — update mode emits only B1's row
      mem.addData((ts("2024-01-10 10:00:00"), 1L, "click"))
      q.processAllAvailable()
      val day = table.read(spark)
        .filter(col("ds") === "2024-01-10")
        .collect().map(r => r.getAs[String]("branch") -> r.getAs[Double]("cnt")).toMap
      assert(day === Map("B1" -> 2.0, "B2" -> 1.0),
        "the batch-2 upsert must not delete B2's untouched row")
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered event ids within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val streamDf = mem.toDF().toDF("event_id", "ts", "payload")
    val q = Ingest.dedupEvents(streamDf, Seq("event_id"))
      .writeStream.format("memory").queryName("s_dedup").outputMode("append").start()
    try {
      mem.addData((1L, ts("2024-01-10 08:00:00"), "a"), (2L, ts("2024-01-10 08:00:10"), "b"))
      q.processAllAvailable()
      // redelivery of id 1 in a later micro-batch, still inside the watermark
      mem.addData((1L, ts("2024-01-10 08:00:20"), "a-dup"), (3L, ts("2024-01-10 08:01:00"), "c"))
      q.processAllAvailable()
      val ids = spark.table("s_dedup").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L, 3L))
      // batch path: identical semantics via plain dropDuplicates
      val batch = Ingest.dedupEvents(
        Seq((1L, ts("2024-01-10 08:00:00"), "a"), (1L, ts("2024-01-10 08:00:20"), "a-dup"))
          .toDF("event_id", "ts", "payload"),
        Seq("event_id"))
      assert(batch.count() === 1)
    } finally q.stop()
  }

  test("sessionization: gap splits bursts into sessions, closed by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    val evs = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[Ingest.SessionEvent]
    val q = Ingest.sessionize(evs, gapMs = 30 * 60 * 1000L) // 30-min gap
      .writeStream.format("memory").queryName("s_sessions").outputMode("append").start()
    try {
      // user 1: burst of 3, then (>30min later) burst of 2; user 2: single
      mem.addData(
        (ts("2024-01-10 08:00:00"), 1L),
        (ts("2024-01-10 08:05:00"), 1L),
        (ts("2024-01-10 08:10:00"), 1L),
        (ts("2024-01-10 09:00:00"), 1L),
        (ts("2024-01-10 09:02:00"), 1L),
        (ts("2024-01-10 08:30:00"), 2L))
      q.processAllAvailable()
      // advance the watermark far past every open session
      mem.addData((ts("2024-01-11 00:00:00"), 99L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-12 00:00:00"), 99L))
      q.processAllAvailable()
      val sessions = spark.table("s_sessions")
        .select(col("user_id"), col("start").cast("string"), col("n_events"))
        .as[(Long, String, Int)].collect().toSet
      assert(sessions.contains((1L, "2024-01-10 08:00:00", 3)), s"got $sessions")
      assert(sessions.contains((1L, "2024-01-10 09:00:00", 2)), s"got $sessions")
      assert(sessions.contains((2L, "2024-01-10 08:30:00", 1)), s"got $sessions")
    } finally q.stop()
  }

  test("batch sessionization agrees with the streaming operator on closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val sample = Seq(
      (ts("2024-01-10 08:00:00"), 1L),
      (ts("2024-01-10 08:05:00"), 1L),
      (ts("2024-01-10 08:10:00"), 1L),
      (ts("2024-01-10 09:00:00"), 1L),
      (ts("2024-01-10 09:02:00"), 1L),
      (ts("2024-01-10 08:30:00"), 2L),
      (ts("2024-01-10 10:30:00"), 2L))
    val mem = MemoryStream[(Timestamp, Long)]
    val evs = mem.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[Ingest.SessionEvent]
    val q = Ingest.sessionize(evs, gapMs = 30 * 60 * 1000L)
      .writeStream.format("memory").queryName("s_sess_agree").outputMode("append").start()
    try {
      mem.addData(sample: _*)
      q.processAllAvailable()
      mem.addData((ts("2024-01-12 00:00:00"), 99L)) // flush: close all real sessions
      q.processAllAvailable()
      mem.addData((ts("2024-01-14 00:00:00"), 99L))
      q.processAllAvailable()
      val streamed = spark.table("s_sess_agree")
        .filter(col("user_id") =!= 99L)
        .select(col("user_id"), col("start").cast("string"),
          col("end").cast("string"), col("n_events").cast("long"))
        .as[(Long, String, String, Long)].collect().toSet
      val batch = Ingest.sessionizeBatch(sample.toDF("ts", "user_id"), 30 * 60 * 1000L)
        .select(col("user_id"), col("start").cast("string"),
          col("end").cast("string"), col("n_events"))
        .as[(Long, String, String, Long)].collect().toSet
      assert(streamed === batch, s"streaming $streamed vs batch $batch")
      assert(batch.size === 4) // user1: 2 sessions; user2: 2 single-event sessions
    } finally q.stop()
  }

  test("events later than the 1-day watermark are dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val streamDf = mem.toDF().toDF("ts", "user_id", "event_type")
    val q = Ingest.dailyCounts(Ingest.eventsToMoves(streamDf))
      .writeStream.format("memory").queryName("s_late").outputMode("update").start()
    try {
      mem.addData((ts("2024-01-10 12:00:00"), 1L, "click"))
      q.processAllAvailable() // watermark advances to 2024-01-09 12:00
      mem.addData(
        (ts("2024-01-02 00:00:00"), 5L, "click"), // far beyond the watermark
        (ts("2024-01-11 08:00:00"), 6L, "view"))
      q.processAllAvailable()
      val days = spark.table("s_late").select(col("ds").cast("string")).as[String].collect().toSet
      assert(days.contains("2024-01-10"))
      assert(days.contains("2024-01-11"))
      assert(!days.contains("2024-01-02"), "late event beyond watermark must be dropped")
    } finally q.stop()
  }

  test("cron-then-serve cycle: a late-landed day flows stream -> refresh -> serving join") {
    // the reference's nightly loop (precompute_percentages.py cron +
    // main.py serving reads) as ONE pipeline: history lacks Jan 21, the
    // serving join falls back to month level; the day then lands through
    // the streaming ingest, refreshMonths folds it in, and the same
    // request hits day level.
    import graft.operators.{Forecast, Percentages}
    implicit val sqlCtx = spark.sqlContext

    val histRows = for {
      d <- 1 to 20
      b <- Seq("B1", "B2")
      mt <- Seq("click", "view")
    } yield (java.sql.Date.valueOf(f"2024-01-$d%02d"), b, mt, 10.0 + d)
    val hist = histRows.toDF("ds", "branch", "move_type", "cnt")
    val pctTable = freshTable("graft_cycle_pct")
    Percentages.upsertPercentagesSnapshot(spark, Percentages.percentagesSingleScan(hist), pctTable)
    def pct = pctTable.read(spark).withColumn("month", col("month").cast("long"))

    val request = Seq(("B1", "click", 1L, 21L)).toDF("branch", "move_type", "month", "day")
    val before = Forecast.fallbackPct(request, pct).head()
    assert(before.getAs[String]("fallback_level") === "month", "day 21 must not exist yet")

    // day 21 lands late via the streaming ingest (user 1 -> branch B1)
    val counts = freshTable("graft_cycle_tbl")
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_cycle_ckpt").toString
    val mem = MemoryStream[(Timestamp, Long, String)]
    val q = Ingest.streamDailyCountsByTypeToTable(
      Ingest.eventsToMoves(mem.toDF().toDF("ts", "user_id", "event_type")), counts, ckptDir)
    try {
      mem.addData(
        (ts("2024-01-21 09:00:00"), 1L, "click"),
        (ts("2024-01-21 10:00:00"), 1L, "click"),
        (ts("2024-01-21 11:00:00"), 2L, "view"))
      q.processAllAvailable()
    } finally q.stop()

    // nightly refresh: re-aggregate January from history + the streamed table
    Percentages.refreshMonths(spark, hist.unionByName(counts.read(spark)), Seq(1L), pctTable)

    val after = Forecast.fallbackPct(request, pct).head()
    assert(after.getAs[String]("fallback_level") === "day", "refreshed day must serve at day level")
    assert(after.getAs[Double]("day_pct") > 0.0)
  }

  test("streamDedupedCorpus: the ingest -> dedup-vs-corpus -> append loop") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_corpus_ckpt").toString
    val corpus = graft.sources.VersionedTable(
      java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/t")
    val mem = MemoryStream[(Long, String)]
    val preStreamRdds = spark.sparkContext.getPersistentRDDs.keySet
    val q = Ingest.streamDedupedCorpus(mem.toDF().toDF("doc_id", "text"), corpus, ckpt)
    try {
      val textA = (0 until 30).map(i => s"a$i").mkString(" ")
      val textB = (0 until 30).map(i => s"b$i").mkString(" ")
      val textC = (0 until 30).map(i => s"c$i").mkString(" ")
      // one substituted token: 3-gram jaccard ~= 0.8, well above 0.5
      val nearA = ((0 until 15).map(i => s"a$i") ++ Seq("CHANGED") ++
        (16 until 30).map(i => s"a$i")).mkString(" ")

      // batch 1: doc 3 is an exact in-batch dup of doc 1 -> dropped
      mem.addData((1L, textA), (2L, textB), (3L, textA))
      q.processAllAvailable()
      assert(corpus.latestVersion().contains(0L))
      assert(corpus.read(spark).select("doc_id").as[Long].collect().sorted ===
        Array(1L, 2L))

      // batch 2: doc 10 near-dups committed doc 1 -> dropped; doc 11 is
      // fresh -> appended (O(batch) commit, v0's files carried by manifest)
      mem.addData((10L, nearA), (11L, textC))
      q.processAllAvailable()
      assert(corpus.latestVersion().contains(1L))
      assert(corpus.read(spark).select("doc_id").as[Long].collect().sorted ===
        Array(1L, 2L, 11L))
      assert(corpus.manifest(1L).get.exists(_.contains("v=0")), "append must carry v0 files")
      // each commit is tagged with its batch id — the replay-idempotence
      // token the foreachBatch guard checks before appending
      assert(corpus.latestTag() === Some("batch-1"))
      // batch-scoped checkpoint cleanup: the stream holds O(one batch) of
      // persisted RDD blocks, not one per processed batch (other suites
      // may share this session, so assert on the stream's own ids only)
      assert(spark.sparkContext.getPersistentRDDs.keySet.intersect(preStreamRdds).size ===
        spark.sparkContext.getPersistentRDDs.size,
        "batch checkpoints must not outlive their micro-batch")
    } finally q.stop()
  }

  test("streamDedupedCorpus: one streamed cycle equals the s03 batch restatement") {
    // the s03 correctness row restates the foreachBatch body relationally
    // (DuckDB-oracled); this test closes the loop by running the ACTUAL
    // stream over the same fixture split and comparing byte-for-byte
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val corpus = graft.sources.VersionedTable(
      java.nio.file.Files.createTempDirectory("graft_s03_corpus").toString + "/t")
    corpus.commit(docs.filter(col("doc_id") >= 100))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_s03_ckpt").toString
    val mem = MemoryStream[(Long, String, String)]
    val q = Ingest.streamDedupedCorpus(
      mem.toDF().toDF("doc_id", "source", "text"), corpus, ckpt)
    try {
      val batchRows = docs.filter(col("doc_id") < 100)
        .as[(Long, String, String)].collect()
      mem.addData(batchRows.toIndexedSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = corpus.read(spark)
      .select("doc_id", "source", "text").orderBy("doc_id")
      .collect().map(_.toString).toSeq
    val restated = SparkEntry.queries("s03_stream_corpus_cycle")(spark, dir)
      .collect().map(_.toString).toSeq
    assert(streamed === restated)
  }

  test("streamDedupedCorpus: incremental shingle index — fast path, mirror tags, heal") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_corpus_ckpt2").toString
    val base = java.nio.file.Files.createTempDirectory("graft_corpus2").toString
    val corpus = graft.sources.VersionedTable(base + "/t")
    val index = graft.sources.VersionedTable(base + "/idx")
    val mem = MemoryStream[(Long, String)]
    val q = Ingest.streamDedupedCorpus(
      mem.toDF().toDF("doc_id", "text"), corpus, ckpt, shingleIndex = Some(index))
    try {
      val textA = (0 until 30).map(i => s"a$i").mkString(" ")
      val textC = (0 until 30).map(i => s"c$i").mkString(" ")
      val nearA = ((0 until 15).map(i => s"a$i") ++ Seq("CHANGED") ++
        (16 until 30).map(i => s"a$i")).mkString(" ")

      mem.addData((1L, textA))
      q.processAllAvailable()
      // the index mirrors corpus v0 and holds doc 1's shingles
      assert(index.latestTag() === Some("corpus-v0"))
      assert(index.read(spark).select("doc_id").distinct().as[Long].collect() === Array(1L))

      // batch 2 dedups THROUGH the index (coherent tag): near-dup dropped,
      // fresh doc appended to corpus AND index — by manifest reference
      mem.addData((10L, nearA), (11L, textC))
      q.processAllAvailable()
      assert(corpus.read(spark).select("doc_id").as[Long].collect().sorted === Array(1L, 11L))
      assert(index.latestTag() === Some("corpus-v1"))
      assert(index.read(spark).select("doc_id").distinct().as[Long].collect().sorted ===
        Array(1L, 11L))
      assert(index.manifest(index.latestVersion().get).get.exists(_.contains("v=0")),
        "index append must carry its previous postings by reference")

      // out-of-band corpus write breaks the mirror tag -> next batch must
      // fall back to the corpus text, still dedup correctly, and HEAL
      corpus.appendCommit(Seq((20L, textA + " extra")).toDF("doc_id", "text"))
      val nearC = ((0 until 10).map(i => s"c$i") ++ Seq("X") ++
        (11 until 30).map(i => s"c$i")).mkString(" ")
      mem.addData((30L, nearC))
      q.processAllAvailable()
      // nearC ~ doc 11 -> dropped even though the index was stale
      assert(corpus.read(spark).select("doc_id").as[Long].collect().sorted ===
        Array(1L, 11L, 20L))
      val healed = corpus.latestVersion().get
      assert(index.latestTag() === Some(s"corpus-v$healed"))
      assert(index.read(spark).select("doc_id").distinct().as[Long].collect().sorted ===
        Array(1L, 11L, 20L), "heal must rebuild postings from the corpus head")
    } finally q.stop()
  }
}
