package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source layer: typed readers over the driver's parquet testdata plus the
  * deterministic views that map the `events` table onto the reference's two
  * fact tables (see FIXTURES.md §3).
  *
  * Reference data model (all file:line into /root/reference/):
  *   - `forecasting_data("Date","Branch","Count")` — daily totals per branch;
  *     shape fixed by the SELECT list at pretrain_models.py:9 and
  *     precompute_percentages.py:96-99.
  *   - `historical_data("Date","Branch","MoveType","Count")` — daily counts
  *     per branch per move type (precompute_percentages.py:100-103).
  *
  * Design: scans stay fully declarative (`spark.read.parquet` + `select`) so
  * Catalyst gets column pruning and parquet filter pushdown for free; at
  * 100 TB these same readers point at a partitioned table and partition
  * pruning applies unchanged. No schema inference surprises: the testdata
  * schema is pinned in FIXTURES.md §2 and we only `select` declared columns.
  *
  * Resolving a reader runs no Spark job: [[table]] reads the schema from
  * one parquet footer on the driver, where `spark.read.parquet` would run
  * a job to read that same footer.
  */
object Tables {

  /** 110 branches, matching the reference's model store cardinality
    * (prophet_models/ has 110 pickles; main.py:165-185).
    */
  val BranchCount = 110

  /** Historical years window (precompute_percentages.py:97,:101:
    * `EXTRACT(YEAR ...) BETWEEN 2019 AND 2024`).
    */
  val YearLo = 2019
  val YearHi = 2024

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val reader = spark.read
    footerSchema(spark, path).foreach(reader.schema)
    reader.parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver from
    * the file Spark's `ParquetUtils.inferSchema` reads: `_common_metadata`,
    * else `_metadata`, else the first data file by path, among the files
    * Spark lists under `path`; converted under the session's conf, as
    * Spark's schema inference converts it. None when the listing holds no
    * file: the reader then fails as `spark.read.parquet` fails on a
    * missing or empty path.
    */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(name => files.find(_.getPath.getName == name)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { file =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(
          new Footer(file.getPath, footer), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
  }

  /** O1 general form: parameterized JDBC scan (the reference's
    * `pd.read_sql_query` with a fresh connection per call, main.py:56-66,
    * restated with connection pooling, predicate pushdown, and
    * range-partitioned parallel reads). Exercised in-harness against
    * embedded Apache Derby (which ships in Spark's jar directory) by
    * JdbcSpec: plain round-trip, 4-way range-partitioned read, and
    * pushed-filter verification. A production deployment points this at
    * the reference's PostgreSQL.
    *
    * @param partitionColumn numeric/date column for parallel range reads;
    *        with bounds and numPartitions, Spark issues one bounded query
    *        per partition instead of a single-threaded full scan
    */
  def jdbcTable(
      spark: SparkSession,
      url: String,
      table: String,
      partitionColumn: Option[(String, Long, Long, Int)] = None,
      props: Map[String, String] = Map.empty): DataFrame = {
    val base = spark.read
      .format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("pushDownPredicate", "true")
      .option("pushDownAggregate", "true")
    val withPartitioning = partitionColumn match {
      case Some((col0, lo, hi, n)) =>
        base
          .option("partitionColumn", col0)
          .option("lowerBound", lo.toString)
          .option("upperBound", hi.toString)
          .option("numPartitions", n.toString)
      case None => base
    }
    props.foldLeft(withPartitioning) { case (b, (k, v)) => b.option(k, v) }.load()
  }

  /** `events` ships as parquet TIMESTAMP(NANOS), which Spark 4 only reads as
    * LongType (spark.sql.legacy.parquet.nanosAsLong). Normalize to a real
    * TimestampType column with integer `div` (a double division would lose
    * sub-microsecond precision on 1.7e18-scale nanos).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `historical_data` analog (FIXTURES.md §3): one move per event, branch
    * derived from user_id, move type from event_type. Applies the reference's
    * 2019-2024 year predicate (O10, precompute_percentages.py:97) — pushed to
    * the parquet scan by Catalyst.
    *
    * Columns: ds DATE, branch STRING, move_type STRING, cnt DOUBLE.
    */
  def historicalData(spark: SparkSession, dir: String): DataFrame =
    eventsInYears(spark, dir, YearLo, YearHi)
      .select(
        to_date(col("ts")).as("ds"),
        concat(lit("B"), pmod(col("user_id"), lit(BranchCount.toLong)).cast("string")).as("branch"),
        col("event_type").as("move_type"),
        lit(1.0).as("cnt"))

  /** Year-windowed events with a PUSHABLE pre-filter: `year(ts) BETWEEN`
    * is a function of the column and never reaches the parquet scan
    * (Catalyst has no year→range rewrite), but the equivalent half-open
    * range `[Jan 1 yearLo, Jan 1 yearHi+1)` compared against a literal of
    * the COLUMN'S OWN type does — at 100 TB this is the difference between
    * row-group min/max pruning and a full scan. One branch per physical
    * shape the table ships in: raw epoch-nanos longs (legacy
    * TIMESTAMP(NANOS) read with nanosAsLong), TIMESTAMP_NTZ (plain
    * micros, the current testdata), and session-tz TIMESTAMP. The
    * session is pinned UTC (GraftSession), so year boundaries are exact
    * instants in every branch. The semantic year filter stays on top —
    * it is subsumed by the range, costs one codegen'd comparison, and
    * keeps the view's meaning self-evident.
    */
  def eventsInYears(spark: SparkSession, dir: String, yearLo: Int, yearHi: Int): DataFrame = {
    val raw = table(spark, dir, "events")
    val loDate = java.time.LocalDate.of(yearLo, 1, 1)
    val hiDate = java.time.LocalDate.of(yearHi + 1, 1, 1)
    val pre = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val loNanos = loDate
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
        val hiNanos = hiDate
          .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.getEpochSecond * 1000000000L
        raw.filter(col("ts") >= loNanos && col("ts") < hiNanos)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.filter(
          col("ts") >= lit(loDate.atStartOfDay()) && col("ts") < lit(hiDate.atStartOfDay()))
      case _ =>
        raw.filter(
          col("ts") >= lit(loDate.atStartOfDay(java.time.ZoneOffset.UTC).toInstant) &&
            col("ts") < lit(hiDate.atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
    }
    pre.filter(year(col("ts")).between(yearLo, yearHi))
  }

  /** `forecasting_data` analog: daily totals per branch (O30-shaped grouped
    * sum; FIXTURES.md §3). Columns: ds DATE, branch STRING, cnt DOUBLE.
    */
  def forecastingData(spark: SparkSession, dir: String): DataFrame =
    historicalData(spark, dir)
      .groupBy(col("ds"), col("branch"))
      .agg(sum(col("cnt")).as("cnt"))

  /** `historical_data` analog WITHOUT the 2019-2024 year predicate — the
    * reference training pipeline reads the raw table with no year filter
    * (pretrain_models.py:9) and applies only the train cutoff downstream
    * (pretrain_models.py:20). Keep this reader for the training path; the
    * filtered view above stays for the precompute path.
    */
  def historicalDataAll(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(
        to_date(col("ts")).as("ds"),
        concat(lit("B"), pmod(col("user_id"), lit(BranchCount.toLong)).cast("string")).as("branch"),
        col("event_type").as("move_type"),
        lit(1.0).as("cnt"))

  /** Unfiltered `forecasting_data` analog (training path; see
    * historicalDataAll).
    */
  def forecastingDataAll(spark: SparkSession, dir: String): DataFrame =
    historicalDataAll(spark, dir)
      .groupBy(col("ds"), col("branch"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Oracle-side SQL for the same two views, as DuckDB CTE bodies. Kept here
    * so the Spark transform and the DuckDB oracle can never drift apart.
    */
  val HistoricalDataSql: String =
    s"""SELECT CAST(ts AS DATE) AS ds,
       |       'B' || CAST(user_id % $BranchCount AS VARCHAR) AS branch,
       |       event_type AS move_type,
       |       1.0 AS cnt
       |FROM events
       |WHERE EXTRACT(YEAR FROM ts) BETWEEN $YearLo AND $YearHi""".stripMargin

  val ForecastingDataSql: String =
    """SELECT ds, branch, SUM(cnt) AS cnt FROM historical_data GROUP BY ds, branch"""

  /** Standard CTE prelude for oracle SQL texts that need the fact views. */
  val FactCtes: String =
    s"""WITH historical_data AS ($HistoricalDataSql),
       |forecasting_data AS ($ForecastingDataSql)""".stripMargin

  /** Oracle CTEs for the UNFILTERED (training-path) views. */
  val HistoricalDataAllSql: String =
    s"""SELECT CAST(ts AS DATE) AS ds,
       |       'B' || CAST(user_id % $BranchCount AS VARCHAR) AS branch,
       |       event_type AS move_type,
       |       1.0 AS cnt
       |FROM events""".stripMargin

  val FactAllCtes: String =
    s"""WITH historical_data_all AS ($HistoricalDataAllSql),
       |forecasting_data_all AS (
       |  SELECT ds, branch, SUM(cnt) AS cnt FROM historical_data_all GROUP BY ds, branch)""".stripMargin
}
