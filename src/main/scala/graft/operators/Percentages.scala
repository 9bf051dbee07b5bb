package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{Tables, VersionedTable}

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
    * The production materialization point is the PERSISTED snapshot —
    * [[upsertPercentagesSnapshot]] then `VersionedTable.read` — which is
    * also this engine's serving architecture; the in-memory checkpoint is
    * the right tool for self-contained single-job queries like the
    * verification harness.
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

  private val PctKey = Seq("branch", "move_type", "month", "day")
  private val PctCols =
    Seq("branch", "move_type", "month", "day", "move_cnt", "total_cnt", "avg_percentage")

  /** The reference's nightly maintenance cycle
    * (precompute_percentages.py runs as a cron over the full table),
    * incrementalized: recompute the dense percentage rows for ONLY the
    * given months and upsert them into the next snapshot of `table`.
    * Percentages for a month depend on all-years history for that month's
    * (branch, day) keys — so the fact table is re-aggregated (one shuffle
    * over the months' rows once the month predicate is pushed down), but
    * only the recomputed keys are replaced. Composes with the streaming
    * ingest: after `Ingest.streamDailyCountsByTypeToTable` lands a day's
    * facts, refreshing that day's month brings serving up to date.
    * Returns the published version.
    */
  def refreshMonths(
      spark: SparkSession,
      historical: DataFrame,
      months: Seq[Long],
      table: VersionedTable): Long = {
    // move-type domain from the FULL table: a full recompute emits
    // zero-percentage rows for move types absent from the refreshed
    // months, and the incremental path must produce identical rows
    val mts = historical.select("move_type").distinct()
    val mg = moveGrouped(historical.filter(month(col("ds")).isin(months: _*)))
      .localCheckpoint()
    val tg = mg
      .groupBy(col("branch"), col("month"), col("day"))
      .agg(sum(col("move_cnt")).as("total_cnt"))
    upsertPercentagesSnapshot(spark, denseRatio(mg, tg, mts), table)
    // NOTE upsert semantics (same as the reference's ON CONFLICT): rows
    // whose key vanishes from the recompute are NOT deleted — history
    // shrinking under a key needs a full recompute committed whole
  }

  /** O5: the persisted percentages table, and the reference's
    * `ON CONFLICT (branch, move_type, month, day) DO UPDATE` upsert
    * (precompute_percentages.py:218-233) restated as one key-merge
    * snapshot of `table` ([[VersionedTable.upsert]]): an update row
    * supersedes the stored row with its key, stored rows without a
    * matching update survive, and on a never-committed table it is a
    * plain write. Each snapshot is partitioned by `month` (the reference's
    * own PK prefix suggests the access pattern: serving probes one
    * (month, day) slice, and partition pruning replaces the reference's
    * composite index, precompute_percentages.py:73-74); `month` reads back
    * as `int`, the hive partition type. Concurrent readers always see a
    * complete table, the transactional guarantee of the reference's
    * Postgres upsert; the checkpoint/resume machinery (O6,
    * precompute_percentages.py:82-91) is subsumed by deterministic
    * recompute + Spark stage retry.
    *
    * Tradeoff: each commit writes the FULL table — bounded here
    * (|branches| x 366 x |move types| at any input scale) — in exchange
    * for snapshot isolation and time travel over retained versions.
    */
  def upsertPercentagesSnapshot(
      spark: SparkSession,
      updates: DataFrame,
      table: VersionedTable): Long =
    table.upsert(spark, updates.select(PctCols.map(col): _*), PctKey, Seq("month"))
}
