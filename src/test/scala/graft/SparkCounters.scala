package org.apache.spark {
  /** The listener bus drains asynchronously; its exact drain is
    * `private[spark]`, so the counters below reach it from here. */
  object ListenerDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Spark jobs launched while `f` runs, counted exactly: the bus is drained
  * before the count starts and again before it is read. */
object JobCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (out, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

/** Classes the code generator compiled while `f` runs (cache hits compile
  * none): the delta of Spark's compilation-time histogram count, read
  * after the same drains as [[JobCount]]. The histogram is JVM-wide, so
  * this counts exactly only while no other query runs. */
object CompileCount {
  def apply[T](spark: SparkSession)(f: => T): (T, Long) = {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    org.apache.spark.ListenerDrain(spark.sparkContext)
    val before = compiled
    val out = f
    org.apache.spark.ListenerDrain(spark.sparkContext)
    (out, compiled - before)
  }
}

}
