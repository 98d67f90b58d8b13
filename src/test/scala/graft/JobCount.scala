package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** Job-budget measurement for the index write-path specs. */
object JobCount {

  /** `body`'s result and the number of Spark jobs it launched, counted
    * under a private job group once the listener bus has drained.
    */
  def jobsOf[T](spark: SparkSession, tag: String)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"$tag-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, tag)
    try {
      val out = body
      Bridge.drainListenerBus(sc)
      (out, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
