package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The session every entry point builds: the compiled-class cache holds a
  * curation run's working set, and the status store keeps only a bounded
  * tail of finished work.
  */
class GraftSessionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("the session carries the codegen cache size and the status-store bounds") {
    val conf = spark.sparkContext.getConf
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.CodegenCacheEntries > 230, "below x53's distinct classes a run")
    assert(conf.get("spark.ui.retainedJobs") == GraftSession.RetainedJobs.toString)
    assert(conf.get("spark.ui.retainedStages") == GraftSession.RetainedStages.toString)
    assert(conf.get("spark.ui.retainedTasks") == GraftSession.RetainedTasks.toString)
    assert(conf.get("spark.sql.ui.retainedExecutions") == GraftSession.RetainedExecutions.toString)
  }

  test("a second x53 run reuses every class the first one compiled") {
    val x53 = SparkEntry.queries("x53_curation_pipeline")
    def dropCached(): Unit = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    // both runs start with nothing cached: a table another spec left cached
    // would change the first run's plan, not its class reuse
    def compiles(): Long = {
      dropCached()
      val n0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      try x53(spark, "/root/testdata/sf0.01").collect()
      finally dropCached()
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - n0
    }
    // AQE re-plans as query stages finish, so the order stages happen to
    // finish in can give a run a few classes the previous run did not
    // need; static plans make both runs generate the same code
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      compiles()
      assert(compiles() == 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("the status store keeps at most the bounded number of SQL executions") {
    val bound = GraftSession.RetainedExecutions
    (1 to bound + 10).foreach(i => spark.range(i).count())
    org.apache.spark.GraftBusBridge.drain(spark.sparkContext)
    // finished executions are trimmed on the status store's tracking thread
    eventually(timeout(10.seconds), interval(50.millis)) {
      assert(spark.sharedState.statusStore.executionsCount() <= bound)
    }
  }
}
