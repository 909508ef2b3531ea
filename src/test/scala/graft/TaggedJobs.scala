package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs and stages one block of driver code starts.
  * Counted by a local property rather than a job group: broadcast
  * exchanges re-group their own jobs but keep the caller's local
  * properties, and background work on other suites' tables never carries
  * the tag. Stages are counted as submitted, so a skipped (already
  * computed) stage does not count. */
object TaggedJobs {
  private val TagKey = "graft.spec.taggedJobs"

  /** (jobs, stages) started while `body` ran, and its result. */
  def count[A](spark: SparkSession)(body: => A): ((Int, Int), A) = {
    val tag = java.util.UUID.randomUUID().toString
    def tagged(p: java.util.Properties) =
      p != null && tag == p.getProperty(TagKey)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (tagged(js.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (tagged(ss.properties)) stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setLocalProperty(TagKey, tag)
    try {
      val out = body
      org.apache.spark.sql.GraftSqlBridge.flushListenerBus(spark)
      ((jobs.get, stages.get), out)
    } finally {
      spark.sparkContext.setLocalProperty(TagKey, null)
      spark.sparkContext.removeSparkListener(l)
    }
  }
}
