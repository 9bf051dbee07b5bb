package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-count witness for the specs that pin how many Spark jobs a call runs. */
object SparkJobs {

  /** `body`'s result and the Spark jobs it submitted from this thread. */
  def in[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobProbe"
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      org.apache.spark.GraftBusBridge.drain(sc)
      (out, n.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
