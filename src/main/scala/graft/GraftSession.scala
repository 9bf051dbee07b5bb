package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration. Every
  * entry point builds its session here: the harnesses (`Bench`, `Verify`,
  * `PlanAudit`), the dev mains, the specs and the benchmark.
  *
  * Designed for a real multi-executor cluster (AQE, sensible shuffle
  * parallelism, UTC determinism); tested on `local[N]`. The same conf keys
  * are what you would pass to spark-submit on a 1000-executor deployment —
  * only `master` and the sizing numbers change.
  *
  * Two driver-resident caches are sized to the work this engine runs:
  *
  *  - '''Compiled classes.''' Spark keeps generated classes in one
  *    JVM-wide LRU cache of `spark.sql.codegen.cache.maxEntries` entries
  *    (default 100). Measured with an unbounded cache (sf0.01, collecting
  *    each query's output): one x53 curation run generates 165 distinct
  *    classes, x57 adds 7, and a pass of x53 then x106 needs 206 (x106
  *    adds 41; 8 more at sf0.1). At 100 entries x53 evicts its own classes
  *    mid-run, so every warm x53 run recompiles 153-162 of them and a warm
  *    x53 + x106 pass ~200 (1-2.5 s of compiling on 4 cores, a fifth to a
  *    third of the pass). [[CodegenCacheEntries]] holds that
  *    per-pass working set with ~25% headroom; a warm pass then compiles
  *    nothing. This is compiled-code reuse, like the JIT: every query
  *    still plans and executes in full.
  *  - '''Status history.''' The UI is off and no engine code reads the
  *    status store (`statusStore`, `statusTracker`), yet Spark's status
  *    listeners keep up to 1000 jobs, 1000 stages, 1000 SQL executions and
  *    100k tasks with their plan graphs and metrics. The `Retained*`
  *    bounds keep a short tail for debugging; they also offset the heap the
  *    retained classes take.
  *
  * The builder applies [[GraftExtensions]]: the engine's SQL functions and
  * the [[LocalFold]] optimizer rule, which answers a query over local
  * relations on the driver with no Spark job.
  *
  * Caveat: the codegen cache size is a static conf read once per JVM, at
  * the first codegen, from the session active then. It must be on the
  * session before any query runs, and a second session in the same JVM
  * cannot resize it.
  */
object GraftSession {

  /** Default shuffle parallelism for the local harness (matches core count,
    * per the driver contract). On a production cluster this is overridden to
    * ~2-3x total executor cores, and AQE coalesces from there.
    */
  val LocalShufflePartitions = 32

  /** Entries of the JVM-wide compiled-class cache: above the 206 distinct
    * classes of an x53 + x106 pass, the largest working set measured.
    */
  val CodegenCacheEntries = 256

  /** Status-store bounds: jobs, stages and SQL executions kept after they
    * finish, and tasks kept per stage.
    */
  val RetainedJobs = 20
  val RetainedStages = 20
  val RetainedTasks = 1000
  val RetainedExecutions = 20

  def builder(
      master: String = "local[32]",
      shufflePartitions: Int = LocalShufflePartitions): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Testdata `events.ts` is parquet TIMESTAMP(NANOS); Spark reads it as
      // LongType under this flag and Tables.events converts explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Write timestamps as INT64 micros, not the deprecated INT96 Spark
      // still defaults to for Hive compat: INT96 chunks carry NO usable
      // footer statistics, which silently turns the snapshot store's
      // timestamp file-skipping (the SnapshotFileIndex's TIMESTAMP
      // translation, built on the INT64-micros `l` rows) into
      // keep-everything. Micros is what
      // Delta/Iceberg write and every modern reader (and DuckDB) speaks.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", RetainedJobs.toString)
      .config("spark.ui.retainedStages", RetainedStages.toString)
      .config("spark.ui.retainedTasks", RetainedTasks.toString)
      .config("spark.sql.ui.retainedExecutions", RetainedExecutions.toString)
      .withExtensions(new GraftExtensions)

  def getOrCreate(
      master: String = "local[32]",
      shufflePartitions: Int = LocalShufflePartitions): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
