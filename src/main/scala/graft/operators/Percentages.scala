package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** The precompute pipeline: Spark restatement of the reference's
  * `precompute_percentages.py` batch job.
  *
  * Reference semantics (file:line into /root/reference/):
  *   - two scans with a 2019-2024 year predicate
  *     (precompute_percentages.py:96-103)
  *   - month/day derivation (precompute_percentages.py:120-129)
  *   - two grouped sums (O28/O29, precompute_percentages.py:132-139)
  *   - then a quadruple nested loop over the FULL domain
  *     branches x move_types x month(1-12) x day(1-31)
  *     (precompute_percentages.py:178-239): for every combination whose
  *     (month, day) is a valid date in non-leap 2021
  *     (precompute_percentages.py:190-193 — so Feb 29 is NEVER emitted)
  *     and whose total_count > 0, it inserts
  *     `100 * move_count / total_count`, where a missing
  *     (branch, move_type, month, day) group contributes move_count = 0
  *     (an empty pandas mask sums to 0) — i.e. ZERO-percentage rows ARE
  *     emitted whenever the branch had volume but not that move type.
  *
  * Spark restatement (SURVEY.md §2.3 O22): the loop IS one join — but a
  * dense one. The dense key domain is
  *   (total-grouped keys with total_cnt > 0, minus Feb 29)
  *     CROSS JOIN (distinct move types),
  * left-joined to the 4-key aggregate with `coalesce(move_cnt, 0)`.
  *
  * Scale posture: the only shuffle over fact-scale data is the O28
  * aggregation; everything downstream operates on bounded aggregates
  * (|branches| x 366 x |move types| ~ 40k x T rows). The cross join is a
  * broadcast nested loop against a handful of move types, and the final
  * left join runs between two bounded aggregates (AQE broadcasts the
  * smaller). In `percentagesSingleScan` the total-grouped side and the
  * move-type dimension both derive from the SAME O28 aggregate, so the
  * physical plan scans the fact table ONCE (Spark's ReuseExchange picks up
  * the identical aggregate exchange) — at 100 TB this halves I/O vs the
  * naive two-scan formulation.
  */
object Percentages {

  /** O28: grouped sum over 4 keys (precompute_percentages.py:134). */
  def moveGrouped(historical: DataFrame): DataFrame =
    historical
      .groupBy(
        col("branch"),
        col("move_type"),
        month(col("ds")).cast("long").as("month"),
        dayofmonth(col("ds")).cast("long").as("day"))
      .agg(sum(col("cnt")).as("move_cnt"))

  /** O29: grouped sum over 3 keys (precompute_percentages.py:135). */
  def totalGrouped(forecasting: DataFrame): DataFrame =
    forecasting
      .groupBy(
        col("branch"),
        month(col("ds")).cast("long").as("month"),
        dayofmonth(col("ds")).cast("long").as("day"))
      .agg(sum(col("cnt")).as("total_cnt"))

  /** O16: the reference validates (month, day) against non-leap 2021
    * (precompute_percentages.py:191), so day 29 of February never appears in
    * the output even when leap-year data exists for it. Feb 30/31, Apr 31,
    * ... can never arise here because keys derive from real dates; Feb 29
    * CAN (2020/2024 data) and must be dropped explicitly.
    */
  private def validMonthDay(monthCol: String, dayCol: String) =
    !(col(monthCol) === 2 && col(dayCol) === 29)

  /** O22 core: dense ratio join from pre-aggregated inputs.
    *
    * @param mg  4-key aggregate (branch, move_type, month, day, move_cnt)
    * @param tg  3-key aggregate (branch, month, day, total_cnt)
    * @param mts single-column `move_type` dimension (distinct)
    */
  private def denseRatio(mg: DataFrame, tg: DataFrame, mts: DataFrame): DataFrame =
    tg.filter(col("total_cnt") > 0)
      .filter(validMonthDay("month", "day"))
      .crossJoin(broadcast(mts))
      .join(mg, Seq("branch", "move_type", "month", "day"), "left")
      .select(
        col("branch"),
        col("move_type"),
        col("month"),
        col("day"),
        coalesce(col("move_cnt"), lit(0.0)).as("move_cnt"),
        col("total_cnt"),
        (lit(100.0) * coalesce(col("move_cnt"), lit(0.0)) / col("total_cnt"))
          .as("avg_percentage"))

  /** O22 with independent fact tables (the general engine API: in the
    * reference, `forecasting_data` is a separate table that need not equal
    * the move-type rollup of `historical_data`).
    * The move-type and branch domains both come from `historical_data`
    * (precompute_percentages.py:155-156).
    */
  def percentages(historical: DataFrame, forecasting: DataFrame): DataFrame = {
    val mg  = moveGrouped(historical)
    val tg  = totalGrouped(forecasting)
      // branch domain = branches present in historical_data
      .join(historical.select("branch").distinct(), Seq("branch"), "left_semi")
    val mts = historical.select("move_type").distinct()
    denseRatio(mg, tg, mts)
  }

  /** O22 over the fixture mapping, single-fact-scan plan: under
    * FIXTURES.md §3 `forecasting_data` IS the move-type rollup of
    * `historical_data`, so the total side and the move-type dimension are
    * both derived from the O28 aggregate.
    *
    * The aggregate is materialized EAGERLY (localCheckpoint): it is
    * BOUNDED at any input scale (<= |branches| x 366 x |move types| rows),
    * and without materialization Catalyst's column pruning specializes
    * each of its three uses into non-identical subtrees that ReuseExchange
    * cannot collapse — the physical plan then scans the fact table three
    * times (audited: 3 scans lazy vs 1 scan materialized). This mirrors
    * the reference's own design: precompute materializes precisely so
    * downstream never re-derives (precompute_percentages.py:44-52).
    *
    * Caveat for cluster deployments: localCheckpoint blocks are NOT
    * fault-tolerant (an executor loss kills the lineage-truncated RDD).
    * The production materialization point is the PERSISTED table —
    * writePercentages then readPercentages — which is also this engine's
    * serving architecture; the in-memory checkpoint is the right tool for
    * self-contained single-job queries like the verification harness.
    */
  def percentagesSingleScan(historical: DataFrame): DataFrame = {
    val mg  = moveGrouped(historical).localCheckpoint()
    val tg  = mg.groupBy(col("branch"), col("month"), col("day"))
      .agg(sum(col("move_cnt")).as("total_cnt"))
    val mts = mg.select("move_type").distinct()
    denseRatio(mg, tg, mts)
  }

  /** Convenience: the full pipeline from a testdata dir (fixture path). */
  def percentages(spark: SparkSession, dir: String): DataFrame =
    percentagesSingleScan(Tables.historicalData(spark, dir))

  /** [[percentages]] materialized once per CALL (round 16, guide §1.2):
    * the serving assembly consumes the dense pct frame through four to
    * five independent broadcast builds per query (two fallbackPct levels
    * × two lookups, plus the branch domain), and each build re-executed
    * the dense-join lineage above [[percentagesSingleScan]]'s mg
    * checkpoint — ~4 extra jobs per forecast query for a frame that is
    * BOUNDED at any input scale (|branches| × 366 × |move types|; the
    * same bounded-model-state class as mg itself). The checkpoint is
    * per-query-invocation state (each query call builds and drops its
    * own — never a cross-query cache), exactly the serving posture the
    * reference's precompute table embodies. Single-consumer callers
    * (o22's projection, o35's count) keep the lazy form: a barrier buys
    * them nothing.
    */
  def percentagesCheckpointed(spark: SparkSession, dir: String): DataFrame =
    percentages(spark, dir).localCheckpoint()

  /** O31: the monthly average the serving fallback uses
    * (main.py:102-106) — materialized once instead of per-request SQL.
    * Averages over the DENSE percentage rows (zeros included), exactly as
    * Postgres AVG would over the reference's densely-upserted table.
    */
  def monthlyAvg(pct: DataFrame): DataFrame =
    pct
      .groupBy(col("branch"), col("move_type"), col("month"))
      .agg(avg(col("avg_percentage")).as("month_avg"))

  /** O5: idempotent persisted form of the percentages table. Partitioned by
    * `month` (the reference's own PK prefix suggests the access pattern:
    * serving always probes one (month, day) slice — partition pruning replaces
    * the reference's composite index, precompute_percentages.py:73-74).
    * Full overwrite-recompute is the default write mode; the reference's
    * ON CONFLICT upsert (precompute_percentages.py:218-233) is available
    * as [[upsertPercentages]]; the checkpoint/resume machinery (O6,
    * precompute_percentages.py:82-91) is subsumed by deterministic
    * recompute + Spark stage retry.
    */
  def writePercentages(pct: DataFrame, outPath: String): Unit =
    pct.write.mode("overwrite").partitionBy("month").parquet(outPath)

  /** O5 read side: serving reads the materialized table; `month` pruning
    * applies when callers filter on it.
    */
  def readPercentages(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      // restore column order and the partition column's type (directory
      // encoding infers int; the logical schema is long)
      .select(
        col("branch"), col("move_type"), col("month").cast("long"),
        col("day"), col("move_cnt"), col("total_cnt"), col("avg_percentage"))

  private val PctKey = Seq("branch", "move_type", "month", "day")
  private val PctCols =
    Seq("branch", "move_type", "month", "day", "move_cnt", "total_cnt", "avg_percentage")

  /** The reference's nightly maintenance cycle
    * (precompute_percentages.py runs as a cron over the full table),
    * incrementalized: recompute the dense percentage rows for ONLY the
    * given months and merge them into the persisted table. Percentages
    * for a month depend on all-years history for that month's (branch,
    * day) keys — so the fact table is re-aggregated (one shuffle over the
    * months' partitions once the month predicate is pushed down) but the
    * WRITE touches only the affected partitions. Composes with the
    * streaming ingest: after streamDailyCountsToTable lands a day's
    * facts, refreshing that day's month brings serving up to date.
    */
  def refreshMonths(
      spark: SparkSession,
      historical: DataFrame,
      months: Seq[Long],
      pctPath: String): Unit = {
    // move-type domain from the FULL table: a full recompute emits
    // zero-percentage rows for move types absent from the refreshed
    // months, and the incremental path must produce identical rows
    val mts = historical.select("move_type").distinct()
    val mg = moveGrouped(historical.filter(month(col("ds")).isin(months: _*)))
      .localCheckpoint()
    val tg = mg
      .groupBy(col("branch"), col("month"), col("day"))
      .agg(sum(col("move_cnt")).as("total_cnt"))
    upsertPercentages(spark, denseRatio(mg, tg, mts), pctPath)
    // NOTE upsert semantics (same as the reference's ON CONFLICT): rows
    // whose key vanishes from the recompute are NOT deleted — history
    // shrinking under a key needs the full overwrite path.
  }

  /** O5/O6 incremental write mode: the reference's
    * `ON CONFLICT (branch, move_type, month, day) DO UPDATE` upsert
    * (precompute_percentages.py:218-233), restated as a partition-scoped
    * MERGE over the persisted table. An update row supersedes the stored
    * row with its key; stored rows without a matching update survive.
    *
    * Scale posture: only the month partitions PRESENT in `updates` are
    * read or rewritten (dynamic partition overwrite — a daily run touches
    * 1-2 of the 12 partitions); the touched-month row set is bounded
    * (<= |branches| x 31 x |move types| per month) so the anti-join
    * broadcasts and the pre-write localCheckpoint is cheap. The checkpoint
    * is REQUIRED, not an optimization: the merged frame reads the same
    * parquet path the write overwrites, so lineage must be cut before the
    * commit deletes the old files.
    */
  def upsertPercentages(spark: SparkSession, updates: DataFrame, path: String): Unit = {
    val months = updates.select("month").distinct().collect().map(_.getLong(0)) // <= 12 values
    // First run against a never-written path degrades to a plain write —
    // the reference's ON CONFLICT upsert works on an empty table too
    // (precompute_percentages.py:218-233).
    // match the error CONDITION, not message text: Spark 4 exposes the
    // stable error class on AnalysisException, while wording changes
    // across versions ("Path does not exist" in 3.x) would silently turn
    // the first-run fallback into a hard failure
    val existing =
      try Some(readPercentages(spark, path))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => None
      }
    val merged = existing match {
      case Some(stored) =>
        stored
          .filter(col("month").isin(months.toIndexedSeq: _*))
          .join(updates.select(PctKey.map(col): _*), PctKey, "left_anti")
          .select(PctCols.map(col): _*)
          .unionByName(updates.select(PctCols.map(col): _*))
          // REQUIRED lineage cut: the merged frame reads the same parquet
          // path the write below overwrites
          .localCheckpoint()
      case None => updates.select(PctCols.map(col): _*)
    }
    merged.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(path)
  }

  /** Reader-safe variant of [[upsertPercentages]]: same merge semantics,
    * but committed as an immutable snapshot with one atomic commit record
    * ([[graft.sources.VersionedTable]]) instead of overwriting partitions
    * in place — concurrent readers always see a complete table, matching
    * the transactional guarantee of the reference's Postgres ON CONFLICT
    * upsert (precompute_percentages.py:218-233).
    *
    * Tradeoff vs the in-place path: each commit writes the FULL table —
    * free here because the percentages table is bounded
    * (|branches| x 366 x |move types| at any input scale) — in exchange
    * for snapshot isolation, time travel over retained versions, and no
    * lineage hazard (the new version's directory is disjoint from the one
    * it reads, so no localCheckpoint is needed).
    */
  def upsertPercentagesSnapshot(
      spark: SparkSession,
      updates: DataFrame,
      table: graft.sources.VersionedTable): Long = {
    val merged = table.latestVersion() match {
      case Some(v) =>
        table.readVersion(spark, v)
          // restore the partition column's logical type (directory
          // encoding infers int; the schema is long) and column order
          .withColumn("month", col("month").cast("long"))
          .select(PctCols.map(col): _*)
          .join(updates.select(PctKey.map(col): _*), PctKey, "left_anti")
          .unionByName(updates.select(PctCols.map(col): _*))
      case None => updates.select(PctCols.map(col): _*)
    }
    table.commit(merged, partitionBy = Seq("month"))
  }
}
